"""Caller-scoped lifetimes (prague_spark.scope): a scope frees exactly
the pins and local checkpoints it owns — by their own handles, so a
frame another thread made concurrently is never touched — and the
pipeline layer makes none outside one."""

from __future__ import annotations

import re
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import prague_spark as ps
from prague_spark.pipeline import dedup


def _really_cached(df) -> bool:
    lvl = df.storageLevel  # JVM cache-manager state, not the flag
    return lvl.useMemory or lvl.useDisk


def test_scope_release_keep_close(spark, persistent_rdds):
    before = persistent_rdds()
    with ps.scope() as outer:
        with ps.scope() as s:
            a = s.checkpoint(spark.range(10))
            b = s.checkpoint(spark.range(20))
            p = s.pin(spark.range(30).withColumn("x", F.col("id") + 1))
            assert p.count() == 30 and _really_cached(p)
            assert len(persistent_rdds() - before) == 3
            s.release(a)
            assert len(persistent_rdds() - before) == 2
            s.keep(b)
            with pytest.raises(ValueError, match="not owned"):
                s.release(a)
        # the inner close freed the pin; the kept checkpoint is outer's
        assert not _really_cached(p)
        assert len(persistent_rdds() - before) == 1
        assert b.count() == 20
        assert [df for df, _free in outer._owned] == [b]
    assert persistent_rdds() == before


def test_foreign_checkpoint_survives_connected_components(
    spark, monkeypatch
):
    """A local checkpoint another thread makes WHILE connected_components
    checkpoints must stay readable: a freed local checkpoint cannot be
    recomputed. Freeing each generation by its own RDD handle (not by a
    diff of the JVM's persistent-RDD set around the checkpoint call)
    leaves the foreign frame alone. The interleaving is forced: CC's
    first checkpoint call makes the foreign checkpoint on another thread
    before it returns."""
    # the classic DataFrame class: pyspark.sql.DataFrame only declares
    # the method
    cls = type(spark.range(1))
    orig = cls.localCheckpoint
    foreign: dict = {}

    def make_foreign():
        foreign["df"] = orig(
            spark.range(50).withColumn("v", F.col("id") * 3), eager=True
        )

    def wrapped(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if "thread" not in foreign:
            foreign["thread"] = threading.Thread(target=make_foreign)
            foreign["thread"].start()
            foreign["thread"].join(120)
        return out

    monkeypatch.setattr(cls, "localCheckpoint", wrapped)
    # a chain needs several iterations, so CC frees superseded generations
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    with ps.scope():
        out = dedup.connected_components(pairs)
        assert {int(r["cluster_id"]) for r in out.collect()} == {1}
    monkeypatch.undo()
    assert foreign["df"].count() == 50
    assert foreign["df"].agg(F.sum("v")).first()[0] == 3 * sum(range(50))


def test_tier_threads_pin_into_the_callers_scope(spark, persistent_rdds):
    """_overlap_tier_jobs runs each thunk in a copy of the caller's
    context: pins made on the pool threads belong to the caller's
    scope and are freed when it closes."""
    from prague_spark.pipeline.curate import _overlap_tier_jobs
    from prague_spark.scope import pin

    def tier(n):
        return lambda: pin(spark.range(n)).count()

    before = persistent_rdds()
    with ps.scope() as s:
        assert _overlap_tier_jobs([(n, tier(n)) for n in (5, 6, 7)]) == {
            5: 5, 6: 6, 7: 7
        }
        assert len(s._owned) == 3
        assert len(persistent_rdds() - before) == 3
    assert persistent_rdds() == before


def test_scope_ownership_is_thread_safe():
    """Threads sharing one scope (tier thunks run in copies of the
    caller's context) own and release frames concurrently without a lost
    update: every frame is freed exactly once, by release or by close."""
    import sys

    from prague_spark.scope import Scope

    s = Scope()
    frames = [[object() for _ in range(200)] for _ in range(16)]
    freed: list = []

    def work(mine):
        for f in mine:
            s._own(f, lambda f=f: freed.append(f))
        for f in mine[::2]:
            s.release(f)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(m,)) for m in frames]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(freed) == 16 * 100
    s.close()
    assert sorted(map(id, freed)) == sorted(id(f) for m in frames for f in m)


def test_pipeline_pins_go_through_scope():
    """Every persist and local checkpoint in the pipeline layer (and the
    capped funnel) goes through prague_spark.scope, which owns and
    frees it; a bare ``.persist(`` / ``.cache()`` / ``.localCheckpoint(``
    there would pin a frame nothing frees."""
    root = Path(ps.__file__).parent
    files = sorted((root / "pipeline").glob("*.py")) + [
        root / "ops" / "funnel.py"
    ]
    pat = re.compile(r"\.persist\(|\.cache\(\)|\.localCheckpoint\(")
    bad = [
        f"{f.relative_to(root)}:{i}: {line.strip()}"
        for f in files
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not bad, "\n".join(bad)
