"""Parquet-backed store for build-once derived artifacts.

``tables.session_memo`` keeps expensive derived frames (inverted
indexes, LSH band tables, Lloyd centroids, n-gram LM counts, …) alive
for the lifetime of ONE SparkSession — the materialized-view pattern.
But the memo dies with the session object, so every new driver /
bench / test process pays the full cold build again: ~94 s at sf0.1,
hours at the 100-TB scale the docstrings target. Production retrieval
systems train/build ONCE and serve many sessions; this module adds
that layer.

``artifact_memo(spark, (name, sf_dir), build)`` is a drop-in
replacement for ``session_memo`` with a disk tier underneath:

* **content-addressed**: the cache key is a fingerprint of (a) every
  byte of the input tables under ``sf_dir`` and (b) the builder's
  code identity — its source, its primitive closure constants, the
  primitive module-level globals it references by name (MINHASH_K,
  LSH_BANDS, …), and recursively the same token for every repo-local
  helper function it calls — so regenerated testdata, an edited
  builder, an edited constant, or an edited helper all
  auto-invalidate, with no version counter to forget to bump. Stale
  artifacts can never serve: a changed input or changed code hashes
  to a different directory.
* **structure-aware**: builders return a DataFrame, a dict, or a
  tuple whose leaves are DataFrames and JSON scalars (the three
  shapes the query modules use); each DataFrame leaf round-trips
  through parquet (exact for double/decimal/bigint/string/array —
  the engine's own storage codec), scalars ride the meta JSON.
* **atomic + concurrent-safe**: writes land in a tempdir sibling and
  ``os.rename`` into place, so a crashed or racing writer can never
  expose a half-written artifact; losers of the race just keep their
  in-session copy.
* **fail-open**: any I/O problem (read-only disk, missing store,
  concurrent prune) degrades to the plain session memo — the disk
  tier is a pure accelerator, never a correctness dependency. Each
  fallback is recorded with its reason in ``FAIL_OPEN``.
* **single-materialization cold path**: builders return LAZY plans;
  the atomic parquet save is the one action that computes the build,
  and consumers are served the re-loaded parquet scan. Only the
  fail-open fallback (store unwritable) checkpoints the plan so the
  session memo holds a computed frame. Builders whose result feeds
  ANOTHER leaf of the same artifact (a signature table and its norm
  table) still checkpoint that intermediate themselves — intra-build
  reuse is the builder's concern, durability is this module's.

Layout: ``$SPARK_GRAFT_ARTIFACTS`` (default
``<repo>/spark-warehouse/artifacts``)``/<name>/<sfbase>-<path8>-<fp16>/``
holding ``meta.json`` plus one parquet directory per DataFrame leaf
(``path8`` = hash of the absolute sf_dir, so same-basename scale dirs
don't contend). Old fingerprints of the same (name, scale-dir) are
pruned on successful save — the store holds at most one live
generation per artifact per scale.

At 100 TB this is the train-once/serve-many posture the ANN/IVF
docstrings describe: index construction is a scheduled job writing to
shared storage; query sessions pay one parquet load.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import tempfile
import time
import types
import uuid

from pyspark.sql import DataFrame, SparkSession

_FP_CACHE: dict[str, str] = {}

#: bump to invalidate every artifact at once (serialization-format
#: changes, not builder-semantics changes — those self-invalidate).
_FORMAT_VERSION = 1

#: per-process ledger of what the disk tier actually did this session:
#: ``BUILD_TIMES[name]`` = seconds spent in ``builder()`` + save when
#: the artifact was built cold; ``LOAD_TIMES[name]`` = seconds spent
#: re-hydrating it from parquet when it was a disk hit. bench.py
#: copies both into BENCH_FULL.json, so the cold/warm gap is
#: attributable artifact by artifact instead of being one opaque
#: residual (r8 verdict task 3).
BUILD_TIMES: dict[str, float] = {}
LOAD_TIMES: dict[str, float] = {}
#: ``FAIL_OPEN[name]`` = why the disk tier last fell back to the plain
#: session memo for that artifact (``"<stage>: <exception>"``; stage
#: ``load`` = fingerprint or disk load, ``save``, or ``reload`` after
#: the save); bench.py copies it too.
FAIL_OPEN: dict[str, str] = {}


def store_root() -> str:
    env = os.environ.get("SPARK_GRAFT_ARTIFACTS")
    if env:
        return env
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(repo, "spark-warehouse", "artifacts")


def _sf_fingerprint(sf_dir: str) -> str:
    """sha256 over the full content of every parquet file under
    ``sf_dir`` (sorted by relative path). Content-addressed on
    purpose: mtimes change when a driver regenerates identical
    testdata, and a mtime-keyed store would go needlessly cold every
    round. Memoized per process — the harness inputs are ≤ tens of
    MB; at production scale swap this for the table format's own
    snapshot/transaction id."""
    key = os.path.abspath(sf_dir)
    if key in _FP_CACHE:
        return _FP_CACHE[key]
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(sf_dir)):
        dirs.sort()
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(root, fn)
            h.update(os.path.relpath(p, sf_dir).encode())
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    _FP_CACHE[key] = h.hexdigest()
    return _FP_CACHE[key]


def _code_names(code) -> set[str]:
    """Every global name referenced by ``code`` or any code object
    nested inside it (comprehensions, inner defs, lambdas)."""
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            names |= _code_names(c)
    return names


def _is_primitive(v) -> bool:
    if isinstance(v, (int, float, str, bool, bytes)) or v is None:
        return True
    return isinstance(v, (tuple, frozenset)) and all(
        isinstance(x, (int, float, str, bool, bytes)) or x is None for x in v
    )


def _builder_token(builder, _seen: set | None = None) -> str:
    """Hashable identity of the builder's CODE: its source text, the
    repr of primitive closure constants, the repr of every PRIMITIVE
    module-level global the code references by name (MINHASH_K,
    LSH_BANDS, GRAM_SCALE, …), and — recursively — the token of every
    repo-local function it references (helpers like shingle_hashes or
    pagerank that the builder calls). Editing the builder, a constant
    it reads, or a helper it calls all move the fingerprint, so a
    stale artifact built under old semantics can never answer for new
    code. Third-party/stdlib callees ride the _FORMAT_VERSION bump
    instead (hashing their source would churn the store on every
    library upgrade without a semantics change)."""
    if _seen is None:
        _seen = set()
    key = id(getattr(builder, "__code__", builder))
    if key in _seen:
        return f"<cycle:{getattr(builder, '__qualname__', '?')}>"
    _seen.add(key)
    try:
        src = inspect.getsource(builder)
    except (OSError, TypeError):
        src = getattr(builder, "__qualname__", repr(builder))
    parts = [src]
    refs: list[tuple[str, object]] = []
    code = getattr(builder, "__code__", None)
    if code is not None:
        for cell, cname in zip(
            builder.__closure__ or (), code.co_freevars
        ):
            try:
                refs.append((cname, cell.cell_contents))
            except ValueError:
                continue
        g = getattr(builder, "__globals__", {})
        for n in sorted(_code_names(code)):
            if n in g:
                refs.append((n, g[n]))
    consts = []
    callees = []
    for cname, v in refs:
        if _is_primitive(v):
            consts.append(f"{cname}={v!r}")
        elif isinstance(v, types.FunctionType) and (
            getattr(v, "__module__", "") or ""
        ).startswith("iot_sparkstreaming_spark"):
            callees.append(f"{cname}::" + _builder_token(v, _seen))
    parts.append("|".join(sorted(set(consts))))
    parts.append("\x01".join(sorted(set(callees))))
    return "\x00".join(parts)


def _components(value):
    """Flatten a builder result into (kind, [(name, leaf), ...])."""
    if isinstance(value, DataFrame):
        return "df", [("value", value)]
    if isinstance(value, dict):
        return "dict", list(value.items())
    if isinstance(value, tuple):
        return "tuple", [(str(i), v) for i, v in enumerate(value)]
    return None, None


def _serializable(leaves) -> bool:
    return all(
        isinstance(v, (DataFrame, int, float, str, bool)) or v is None
        for _, v in leaves
    )


def _save(value, final_dir: str) -> bool:
    kind, leaves = _components(value)
    if kind is None or not _serializable(leaves):
        return False
    parent = os.path.dirname(final_dir)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(
        prefix=f".tmp-{uuid.uuid4().hex[:8]}-", dir=parent
    )
    try:
        meta = {"format": _FORMAT_VERSION, "kind": kind, "components": []}
        for name, leaf in leaves:
            if isinstance(leaf, DataFrame):
                leaf.write.mode("overwrite").parquet(
                    os.path.join(tmp, f"c_{name}")
                )
                meta["components"].append({"name": name, "type": "df"})
            else:
                meta["components"].append(
                    {"name": name, "type": "scalar", "value": leaf}
                )
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        os.rename(tmp, final_dir)
        return True
    except Exception:  # noqa: BLE001 — incl. Py4J write failures
        shutil.rmtree(tmp, ignore_errors=True)
        # a racing writer may have renamed first — their artifact is
        # bit-identical (same fingerprint ⇒ same inputs + code).
        if os.path.isdir(final_dir):
            return True
        raise


def _fail_open(name: str, stage: str, exc: Exception) -> None:
    first_line = (str(exc).strip().splitlines() or [""])[0]
    FAIL_OPEN[name] = f"{stage}: {type(exc).__name__}: {first_line}"[:300]


def _materialize_fallback(value):
    """Materialize a builder result when the disk tier could NOT serve
    it (unwritable store, failed save, failed re-load): checkpoint each
    DataFrame leaf so session-memo consumers don't recompute the whole
    build on every action. On the normal path builders return LAZY
    plans and the parquet save is the single materialization — this
    fallback is the only place the block-manager copy still exists."""
    kind, leaves = _components(value)
    if kind is None:
        return value
    out = [
        (n, v.localCheckpoint(eager=True) if isinstance(v, DataFrame) else v)
        for n, v in leaves
    ]
    if kind == "df":
        return out[0][1]
    if kind == "tuple":
        return tuple(v for _, v in out)
    return dict(out)


def _load(spark: SparkSession, final_dir: str):
    with open(os.path.join(final_dir, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("format") != _FORMAT_VERSION:
        raise OSError(f"artifact format {meta.get('format')} unsupported")
    out = {}
    for c in meta["components"]:
        if c["type"] == "df":
            out[c["name"]] = spark.read.parquet(
                os.path.join(final_dir, f"c_{c['name']}")
            )
        else:
            out[c["name"]] = c["value"]
    if meta["kind"] == "df":
        return out["value"]
    if meta["kind"] == "tuple":
        return tuple(out[str(i)] for i in range(len(out)))
    return out


def _prune_stale(parent: str, keep: str) -> None:
    """Drop retired fingerprints of the same (name, scale-dir).

    ``keep`` is ``<sfbase>-<path8>-<fp16>``; the generation prefix is
    everything before the LAST ``-`` (so a basename containing ``-``
    still groups correctly), and it includes the 8-hex hash of the
    absolute sf_dir path — two sf_dirs that share a basename
    (``/a/sf0.1`` vs ``/b/sf0.1``) own separate generations instead
    of evicting each other's live artifact on every save."""
    prefix = keep.rsplit("-", 1)[0] + "-"
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for entry in entries:
        if entry != keep and entry.startswith(prefix):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def artifact_memo(spark: SparkSession, key: tuple, builder):
    """Drop-in ``session_memo`` with the parquet store underneath.

    ``key`` must be ``(name, sf_dir)`` — the shape every query-module
    memo already uses. Resolution order: session memo → disk load →
    build (then save + prune). The session layer wraps the result
    either way, so within one session the disk is touched at most
    once per artifact.
    """
    from iot_sparkstreaming_spark.tables import session_memo

    name, sf_dir = key[0], key[1]

    def build_or_load():
        # Fail-open means ANY failure, not just OSError: the JVM-side
        # paths (spark.read.parquet on a pruned generation, a Py4J
        # error inside leaf.write.parquet) surface as AnalysisException
        # or Py4JJavaError, and they too must degrade to the plain
        # session-memo build. Residual race: a prune landing AFTER a
        # lazy load succeeded but BEFORE the frame executes can still
        # fail at action time — but prunes only occur when a DIFFERENT
        # fingerprint saves (code or inputs changed mid-process), and
        # the store keeps one live generation, so that window is
        # effectively unreachable in a fixed-code run.
        try:
            fp = hashlib.sha256(
                (
                    _sf_fingerprint(sf_dir)
                    + "\x00"
                    + _builder_token(builder)
                    + f"\x00v{_FORMAT_VERSION}"
                ).encode()
            ).hexdigest()[:16]
            abs_sf = os.path.abspath(os.path.normpath(sf_dir))
            path8 = hashlib.sha256(abs_sf.encode()).hexdigest()[:8]
            sfbase = os.path.basename(abs_sf) or "sf"
            parent = os.path.join(store_root(), name)
            leaf = f"{sfbase}-{path8}-{fp}"
            final_dir = os.path.join(parent, leaf)
            if os.path.isfile(os.path.join(final_dir, "meta.json")):
                t0 = time.perf_counter()
                loaded = _load(spark, final_dir)
                LOAD_TIMES[name] = round(
                    LOAD_TIMES.get(name, 0.0) + time.perf_counter() - t0, 4
                )
                return loaded
        except Exception as exc:  # noqa: BLE001 — fail-open by contract
            _fail_open(name, "load", exc)
            t0 = time.perf_counter()
            value = _materialize_fallback(builder())
            BUILD_TIMES[name] = round(
                BUILD_TIMES.get(name, 0.0) + time.perf_counter() - t0, 4
            )
            return value
        t0 = time.perf_counter()
        value = builder()
        saved = False
        try:
            if _save(value, final_dir):
                _prune_stale(parent, leaf)
                saved = True
        except Exception as exc:  # noqa: BLE001 — fail-open by contract
            _fail_open(name, "save", exc)
        BUILD_TIMES[name] = round(
            BUILD_TIMES.get(name, 0.0) + time.perf_counter() - t0, 4
        )
        if saved:
            # Serve consumers from the durable parquet tier: on a real
            # cluster a lineage-truncated local checkpoint dies with
            # its executor (no lineage left to recompute), while the
            # just-written artifact survives any executor loss — and
            # cold sessions run the IDENTICAL plan warm sessions do (a
            # scan of the artifact), so plan assertions hold in both
            # regimes. Builders return LAZY plans; the parquet write
            # above was the build's single materialization (no
            # block-manager double-store on the cold path).
            try:
                return _load(spark, final_dir)
            except Exception as exc:  # noqa: BLE001 — fail-open by contract
                _fail_open(name, "reload", exc)
                return _materialize_fallback(value)
        return _materialize_fallback(value)

    return session_memo(spark, key, build_or_load)
