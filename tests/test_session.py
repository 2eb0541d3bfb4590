"""Session factory settings, the session-scoped conf holds and the
ownership scope of cached intermediates."""

from __future__ import annotations

import os
import random
import subprocess
import sys
import threading
from contextlib import ExitStack

from demy_spark.queries import REGISTRY
from demy_spark.session import _scope, aqe_disabled, keep, owned

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AQE = "spark.sql.adaptive.enabled"
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (every cache miss compiles)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_get_spark_sizes_codegen_cache_and_extra_conf_wins(spark):
    # the fixture session is built by get_spark, so the default is live
    assert spark.conf.get(CODEGEN_CACHE) == "512"
    # a static conf only applies to a new session: build one in a
    # fresh JVM to see an extra_conf value win over the default
    code = (
        "from demy_spark.session import get_spark\n"
        "s = get_spark('codegen_cache_override', master='local[1]', shuffle_partitions=1,"
        f" extra_conf={{'{CODEGEN_CACHE}': '64'}})\n"
        f"print('value=' + s.conf.get('{CODEGEN_CACHE}'))\n"
        "s.stop()\n"
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "value=64" in out.stdout.splitlines()


def test_rerun_of_iterative_queries_compiles_nothing(spark, sf_dir):
    """A query the session has already run pays no codegen again: the
    second round of q152 + q134 must hit the generated-code cache for
    every class (at Spark's default of 100 entries it recompiled)."""
    names = ["q152_supplier_pagerank", "q134_phrase_search"]

    def one_round():
        for name in names:
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

    one_round()
    before = _compiles(spark)
    one_round()
    assert _compiles(spark) - before == 0


def test_aqe_hold_survives_pagerank_bpe_interleave(spark):
    """pagerank enters, bpe enters, pagerank exits, bpe exits: AQE must
    stay off until the LAST exit and then be the caller's value again.
    A blind save/restore in the trainer turns AQE back on at pagerank's
    exit, under bpe's loop, and bpe's exit restores the ``false`` it
    saved, leaving the session with AQE off."""
    prev = spark.conf.get(AQE, "true")
    spark.conf.set(AQE, "true")
    try:
        pagerank_hold = aqe_disabled(spark)
        bpe_hold = aqe_disabled(spark)
        pagerank_hold.__enter__()
        assert spark.conf.get(AQE) == "false"
        bpe_hold.__enter__()
        assert spark.conf.get(AQE) == "false"
        pagerank_hold.__exit__(None, None, None)
        assert spark.conf.get(AQE) == "false"  # bpe's loop still running
        bpe_hold.__exit__(None, None, None)
        assert spark.conf.get(AQE) == "true"
    finally:
        spark.conf.set(AQE, prev)


def test_aqe_hold_is_counted_per_session(spark):
    """A trainer on a sibling session (the documented way to keep it
    off serving traffic) holds AQE off on its own SQLConf only, and
    the two holds restore independently."""
    other = spark.newSession()
    prev = spark.conf.get(AQE, "true")
    spark.conf.set(AQE, "true")
    other.conf.set(AQE, "true")
    try:
        with aqe_disabled(spark):
            with aqe_disabled(other):
                assert spark.conf.get(AQE) == "false"
                assert other.conf.get(AQE) == "false"
            assert other.conf.get(AQE) == "true"
            assert spark.conf.get(AQE) == "false"
        assert spark.conf.get(AQE) == "true"
    finally:
        spark.conf.set(AQE, prev)


def test_aqe_hold_leaves_an_unset_key_unset(spark):
    """A session that never set AQE (a plain driver session): the key is
    unset again after the hold, not pinned to Spark's default."""
    other = spark.newSession()
    other.conf.unset(AQE)
    assert AQE not in other.conf.getAll
    with aqe_disabled(other):
        assert other.conf.get(AQE) == "false"
    assert AQE not in other.conf.getAll
    assert other.conf.get(AQE) == "true"


def test_aqe_hold_threaded_stress(spark):
    """More threads than cores enter and leave the hold (pagerank's and
    the trainers' are the same one) at random points, some nested two
    deep: every holder sees AQE off, and the caller's value is back
    once all have left."""
    prev = spark.conf.get(AQE, "true")
    spark.conf.set(AQE, "true")
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    seen_on: list[int] = []

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        for _ in range(25):
            with ExitStack() as holds:
                for _ in range(rng.randint(1, 2)):
                    holds.enter_context(aqe_disabled(spark))
                if spark.conf.get(AQE) != "false":
                    seen_on.append(seed)

    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(2 * (os.cpu_count() or 4))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert seen_on == []
        assert spark.conf.get(AQE) == "true"
    finally:
        sys.setswitchinterval(switch)
        spark.conf.set(AQE, prev)


def _frame(spark, tag: int):
    """A small frame whose plan is unique to ``tag`` (so no other test's
    cache entry can stand in for it)."""
    return spark.range(8).selectExpr(f"id * {tag} AS v")


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_owned_releases_its_frames_on_error(spark):
    df = _frame(spark, 7001)
    try:
        with owned():
            keep(df).count()
            assert _cached(df)
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not _cached(df)


def test_keep_does_not_own_a_plan_cached_before_it(spark):
    df = _frame(spark, 7002).persist()
    try:
        with owned():
            keep(_frame(spark, 7002)).count()  # same plan, another frame
        assert _cached(df)
    finally:
        df.unpersist(blocking=True)


def test_keep_without_a_scope_leaves_the_frame_to_the_caller(spark):
    df = keep(_frame(spark, 7003))
    try:
        df.count()
        assert _cached(df)
    finally:
        df.unpersist(blocking=True)


def test_inner_scope_releases_at_its_own_exit(spark):
    outer, inner = _frame(spark, 7004), _frame(spark, 7005)
    with owned():
        keep(outer)
        with owned():
            keep(inner)
        assert not _cached(inner)
        assert _cached(outer)
    assert not _cached(outer)


def test_scopes_on_two_threads_release_only_their_own_frames(spark):
    """Two threads on ONE session, each in its own scope: the first to
    leave releases its frame only; the other's stays cached until its
    own scope ends."""
    frames = {name: _frame(spark, tag) for name, tag in (("a", 7006), ("b", 7007))}
    both_kept = threading.Barrier(2)
    a_left = threading.Event()
    seen: dict[str, bool] = {}

    def run(name: str) -> None:
        with owned():
            keep(frames[name]).count()
            both_kept.wait(timeout=60)
            if name == "b":
                a_left.wait(timeout=60)
                seen["b_after_a_left"] = _cached(frames["b"])
                seen["a_after_a_left"] = _cached(frames["a"])
        if name == "a":
            a_left.set()

    threads = [threading.Thread(target=run, args=(n,)) for n in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert seen == {"b_after_a_left": True, "a_after_a_left": False}
    assert not _cached(frames["b"])


def test_concurrent_keeps_of_one_plan_have_one_owner(spark):
    """More threads than cores keep the SAME plan, each in its own
    scope: exactly one scope owns it (a check-then-persist without the
    lock lets several see it uncached and all claim it), and it is
    released once every scope has ended."""
    n = 2 * (os.cpu_count() or 4)
    start = threading.Barrier(n)
    owners: list[int] = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)

    def worker(i: int) -> None:
        with owned():
            start.wait(timeout=60)
            keep(_frame(spark, 7008))
            owners.append(len(_scope.get()))
            start.wait(timeout=60)  # no scope exits before all have kept

    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert len(owners) == n and sum(owners) == 1
        assert not _cached(_frame(spark, 7008))
    finally:
        sys.setswitchinterval(switch)
