"""The shipped spark-submit artifact stays in step with the source:
dist/fastdup_spark.zip (built by scripts/package.sh, shipped with
--py-files by tests/test_spark_submit.py) must hold exactly the
package's .py files, byte for byte."""

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zip_matches_package_sources():
    with zipfile.ZipFile(os.path.join(REPO, "dist", "fastdup_spark.zip")) as z:
        shipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    source = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, "fastdup_spark")):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path, "rb") as f:
                    source[os.path.relpath(path, REPO)] = f.read()
    stale = sorted(n for n in set(shipped) | set(source)
                   if shipped.get(n) != source.get(n))
    assert not stale, ("dist/fastdup_spark.zip differs from the source in "
                       f"{stale}; rebuild it with bash scripts/package.sh")
