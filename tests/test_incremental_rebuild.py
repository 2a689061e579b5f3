"""The incremental full-rebuild path writes every derived table through
the same stage definitions as run() (plans/stages.py). After a crash
inside the finalize tail forces that path on the next batch, the
component counts, the outliers marker's cutoff and the summary must equal
the session's from-scratch run over the same pages (conftest ``fd``)."""

import pytest
from pyspark.sql import functions as F

import fastdup_spark.streaming.incremental as inc
from fastdup_spark import FastdupSpark


def test_full_rebuild_matches_run(spark, spark_data, fd, tmp_path,
                                  monkeypatch):
    pages, full = spark_data[0], fd
    part = F.pmod(F.xxhash64("url"), F.lit(3))

    eng = FastdupSpark(spark, str(tmp_path / "inc"))
    eng.run(pages.filter(part == 0))

    def boom(*a, **k):
        raise RuntimeError("simulated crash inside finalize")
    monkeypatch.setattr(inc, "_finalize_bookkeeping", boom)
    with pytest.raises(RuntimeError):
        eng.update(pages.filter(part == 1))
    monkeypatch.undo()

    stats = eng.update(pages.filter(part == 2))
    assert stats["path"] == "full_rebuild"

    def info(e):
        return {(r["component_id"], r["count"]) for r in
                e.store.read(spark, "component_info").collect()}

    assert info(eng) == info(full)
    assert any(c >= 2 for _, c in info(full)), "fixture needs dup components"

    def cutoff(e):
        return e.store.read_marker("outliers")["counters"]["cutoff"]

    assert cutoff(full) is not None
    assert cutoff(eng) == cutoff(full)
    assert eng.summary() == full.summary()
