"""Parquet-backed artifact store: restart reuse, fingerprint
invalidation, structure round-trip, and fail-open degradation.

The disk tier (iot_sparkstreaming_spark/artifacts.py) must be a pure
accelerator: a second "session" (memo cleared) must answer from disk
WITHOUT re-running the builder, and the answer must be bit-identical
to the built one; any store problem must silently fall back to
building.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iot_sparkstreaming_spark import artifacts
from iot_sparkstreaming_spark.artifacts import artifact_memo

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def store(tmp_path, monkeypatch):
    """Point the store at a fresh tmp dir and clear the session memo
    before AND after, so cross-test state can't leak."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    yield str(tmp_path)


def _clear_memo(spark):
    spark.__dict__.pop("_graft_memo", None)


def _df(spark, n=10):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") * 3.5).alias("x"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
    )


def test_restart_reuses_artifact_without_rebuilding(spark, store):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _df(spark).localCheckpoint(eager=True)

    key = ("t_restart", SF_DIR)
    _clear_memo(spark)
    first = sorted(map(tuple, artifact_memo(spark, key, build).collect()))
    assert calls["n"] == 1

    # simulated restart: session memo gone, disk remains
    _clear_memo(spark)
    second = sorted(map(tuple, artifact_memo(spark, key, build).collect()))
    assert calls["n"] == 1, "second session must load, not rebuild"
    assert second == first, "loaded artifact must be bit-identical"
    _clear_memo(spark)


def test_tuple_and_dict_shapes_roundtrip(spark, store):
    calls = {"n": 0}

    def build_tuple():
        calls["n"] += 1
        return (_df(spark, 5), _df(spark, 3), 42)

    def build_dict():
        calls["n"] += 1
        return {"a": _df(spark, 4), "n": 7, "s": "tag", "f": 1.25}

    _clear_memo(spark)
    t1 = artifact_memo(spark, ("t_tuple", SF_DIR), build_tuple)
    d1 = artifact_memo(spark, ("t_dict", SF_DIR), build_dict)
    assert calls["n"] == 2
    t1_rows = [sorted(map(tuple, t1[i].collect())) for i in range(2)]
    d1_rows = sorted(map(tuple, d1["a"].collect()))

    # the SAME builders in a fresh "session" must hit the disk tier
    # (fingerprints key on builder code, so only an identical builder
    # can reuse the artifact — that is the invalidation contract)
    _clear_memo(spark)
    t2 = artifact_memo(spark, ("t_tuple", SF_DIR), build_tuple)
    d2 = artifact_memo(spark, ("t_dict", SF_DIR), build_dict)
    assert calls["n"] == 2, "second session must load, not rebuild"
    assert t2[2] == 42
    assert (d2["n"], d2["s"], d2["f"]) == (7, "tag", 1.25)
    assert [sorted(map(tuple, t2[i].collect())) for i in range(2)] == t1_rows
    assert sorted(map(tuple, d2["a"].collect())) == d1_rows
    _clear_memo(spark)


def test_builder_edit_invalidates(spark, store):
    """Same key, different builder CODE ⇒ different fingerprint ⇒
    rebuild (a stale artifact may never answer for edited code)."""
    _clear_memo(spark)
    v1 = artifact_memo(
        spark, ("t_inval", SF_DIR), lambda: _df(spark, 6)
    ).count()
    _clear_memo(spark)
    calls = {"n": 0}

    def build_v2():
        calls["n"] += 1
        return _df(spark, 8)

    v2 = artifact_memo(spark, ("t_inval", SF_DIR), build_v2).count()
    assert calls["n"] == 1
    assert (v1, v2) == (6, 8)
    _clear_memo(spark)


def test_closure_constant_invalidates(spark, store):
    """A changed primitive captured by the closure must also move the
    fingerprint, even though the source text is identical."""

    def make_builder(n):
        def build():
            return _df(spark, n)

        return build

    _clear_memo(spark)
    assert artifact_memo(spark, ("t_clo", SF_DIR), make_builder(4)).count() == 4
    _clear_memo(spark)
    assert artifact_memo(spark, ("t_clo", SF_DIR), make_builder(9)).count() == 9
    _clear_memo(spark)


def test_prune_keeps_one_generation(spark, store):
    _clear_memo(spark)
    artifact_memo(spark, ("t_prune", SF_DIR), lambda: _df(spark, 2)).count()
    _clear_memo(spark)
    artifact_memo(spark, ("t_prune", SF_DIR), lambda: _df(spark, 3)).count()
    gens = [
        e
        for e in os.listdir(os.path.join(store, "t_prune"))
        if not e.startswith(".")
    ]
    assert len(gens) == 1, gens
    _clear_memo(spark)


def test_fail_open_on_unwritable_store(spark, monkeypatch):
    """A read-only / bogus store root must degrade to plain building —
    never raise, never change the answer."""
    monkeypatch.setenv(
        "SPARK_GRAFT_ARTIFACTS", "/proc/definitely/not/writable"
    )
    _clear_memo(spark)
    got = artifact_memo(
        spark, ("t_failopen", SF_DIR), lambda: _df(spark, 5)
    ).count()
    assert got == 5
    _clear_memo(spark)


def test_fail_open_reason_recorded_and_query_matches_oracle(
    spark, duck, tmp_path, monkeypatch, capsys
):
    """An unwritable store records why the save fell back, prints
    nothing, and a registered artifact-backed query still returns its
    oracle rows."""
    from iot_sparkstreaming_spark.queries.registry import load_all
    from tests.conftest import SF_DIR_ORACLE, assert_matches_oracle_exact

    (tmp_path / "file").write_text("")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "file" / "store"))
    artifacts.FAIL_OPEN.clear()
    q = load_all()["bm25_topk_docs"]
    _clear_memo(spark)
    assert_matches_oracle_exact(q.spark(spark, SF_DIR_ORACLE), duck(SF_DIR_ORACLE), q.oracle)
    assert artifacts.FAIL_OPEN["bm25_index"].startswith("save: NotADirectoryError"), (
        artifacts.FAIL_OPEN
    )
    assert capsys.readouterr().out == ""
    _clear_memo(spark)


def test_unsupported_shape_skips_disk(spark, store):
    """Builders returning non-serializable shapes still work — they
    just stay session-scoped (no artifact dir written)."""

    class Opaque:
        pass

    _clear_memo(spark)
    v = artifact_memo(spark, ("t_opaque", SF_DIR), lambda: Opaque())
    assert isinstance(v, Opaque)
    assert not os.path.isdir(os.path.join(store, "t_opaque"))
    _clear_memo(spark)


def test_registered_query_restart_bit_identity(spark, store):
    """End-to-end over a real registered query whose plan consumes a
    memoized index (bm25): build session vs artifact-load session must
    produce bit-identical rows."""
    from iot_sparkstreaming_spark.queries.registry import load_all

    q = load_all()["bm25_topk_docs"].spark
    _clear_memo(spark)
    built = sorted(map(tuple, q(spark, SF_DIR).collect()))
    assert os.path.isdir(os.path.join(store, "bm25_index"))
    _clear_memo(spark)
    loaded = sorted(map(tuple, q(spark, SF_DIR).collect()))
    assert loaded == built
    _clear_memo(spark)


def test_fingerprint_is_content_addressed(tmp_path):
    """Touching mtimes must NOT move the input fingerprint (drivers
    regenerate identical testdata; the store must stay warm), while a
    byte change MUST."""
    d = tmp_path / "sf"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"PAR1abc")
    artifacts._FP_CACHE.clear()
    fp1 = artifacts._sf_fingerprint(str(d))
    os.utime(d / "t.parquet", (1, 1))
    artifacts._FP_CACHE.clear()
    fp2 = artifacts._sf_fingerprint(str(d))
    (d / "t.parquet").write_bytes(b"PAR1abd")
    artifacts._FP_CACHE.clear()
    fp3 = artifacts._sf_fingerprint(str(d))
    assert fp1 == fp2 != fp3


def test_referenced_global_and_helper_move_token():
    """ADVICE r7: the builder token must cover (a) primitive
    module-level globals the code references by name and (b) the
    source of repo-local helper functions it calls — editing either
    must move the fingerprint even when the builder's own source text
    is unchanged."""
    from iot_sparkstreaming_spark.artifacts import _builder_token

    def h1():
        return 1

    def h2():
        return 2

    h1.__module__ = "iot_sparkstreaming_spark._fake"
    h2.__module__ = "iot_sparkstreaming_spark._fake"

    ns = {"K": 5, "helper": h1}
    exec("def build():\n    return K + helper()", ns)
    build = ns["build"]

    t0 = _builder_token(build)
    assert _builder_token(build) == t0, "token must be deterministic"

    ns["K"] = 6
    t_global = _builder_token(build)
    ns["K"] = 5
    assert t_global != t0, "edited referenced global must move token"

    ns["helper"] = h2
    t_helper = _builder_token(build)
    ns["helper"] = h1
    assert t_helper != t0, "edited repo-local helper must move token"
    assert _builder_token(build) == t0, "restored state must restore token"


def test_builder_token_handles_recursion():
    """Mutually-referencing repo-local helpers must not loop the
    token computation forever."""
    from iot_sparkstreaming_spark.artifacts import _builder_token

    def ping():
        return pong()

    def pong():
        return ping()

    ping.__module__ = pong.__module__ = "iot_sparkstreaming_spark._fake"
    ping.__globals__["pong"] = pong  # same test-module globals
    tok = _builder_token(ping)
    assert "cycle" in tok or tok  # terminates with a stable value
    assert _builder_token(ping) == tok


def test_same_basename_sf_dirs_do_not_evict(spark, store, tmp_path):
    """ADVICE r7: two sf_dirs sharing a basename (/a/sfx vs /b/sfx)
    must own SEPARATE store generations — saving one must not prune
    the other (the old basename-only prune key caused cache thrash)."""
    a = tmp_path / "a" / "sfx"
    b = tmp_path / "b" / "sfx"
    for d, content in ((a, b"PAR1-a"), (b, b"PAR1-b")):
        d.mkdir(parents=True)
        (d / "t.parquet").write_bytes(content)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _df(spark, 2)

    _clear_memo(spark)
    artifact_memo(spark, ("t_multi", str(a)), build).count()
    _clear_memo(spark)
    artifact_memo(spark, ("t_multi", str(b)), build).count()
    assert calls["n"] == 2
    gens = [
        e
        for e in os.listdir(os.path.join(store, "t_multi"))
        if not e.startswith(".")
    ]
    assert len(gens) == 2, f"same-basename dirs must coexist: {gens}"

    # both must now LOAD, proving neither evicted the other
    _clear_memo(spark)
    artifact_memo(spark, ("t_multi", str(a)), build).count()
    _clear_memo(spark)
    artifact_memo(spark, ("t_multi", str(b)), build).count()
    assert calls["n"] == 2
    _clear_memo(spark)


def test_build_and_load_times_recorded(spark, store):
    """r8 verdict task 3: the store ledgers seconds per artifact so
    bench.py can attribute the cold/warm gap artifact by artifact."""
    artifacts.BUILD_TIMES.clear()
    artifacts.LOAD_TIMES.clear()

    def build():
        return _df(spark).localCheckpoint(eager=True)

    key = ("t_ledger", SF_DIR)
    _clear_memo(spark)
    artifact_memo(spark, key, build).collect()
    assert "t_ledger" in artifacts.BUILD_TIMES
    assert artifacts.BUILD_TIMES["t_ledger"] > 0
    assert "t_ledger" not in artifacts.LOAD_TIMES

    # simulated restart → disk hit must land in LOAD_TIMES, not BUILD
    _clear_memo(spark)
    artifact_memo(spark, key, build).collect()
    assert "t_ledger" in artifacts.LOAD_TIMES
    assert artifacts.LOAD_TIMES["t_ledger"] > 0
    _clear_memo(spark)


def test_fail_open_build_still_ledgered(spark, monkeypatch):
    """The unwritable-store fallback path records its build time too."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "/proc/definitely/not/writable")
    artifacts.BUILD_TIMES.clear()

    def build():
        return _df(spark, 3).localCheckpoint(eager=True)

    _clear_memo(spark)
    assert artifact_memo(spark, ("t_failopen_ledger", SF_DIR), build).count() == 3
    assert artifacts.BUILD_TIMES.get("t_failopen_ledger", 0) > 0
    _clear_memo(spark)
