"""Every ledger layout on disk: the streaming epoch ledgers
(:class:`EpochLedger`, ``batch_id=<e>/`` + ``_compacted/upto=<N>/``)
and, below, the compaction ledger for the BATCH landed indexes (LSH
near-dup, exact-dedup fingerprints, IVF cells) — ``gen=<g>/`` plus a
``_folded/`` manifest.

Why: every increment lands its own ``batch_id=b<id>/<part>=N/``
partition directory, so a long-lived index accumulates directories
(and small files) without bound — the round-4 verdict's last open
ledger item. Unlike the streaming ledgers, these rows are immutable
FACTS (fingerprints, band keys, cell assignments), not monoid states,
and batch ids are arbitrary strings, not ordered epochs. Two
consequences shape the protocol:

1. **Folding keeps ``batch_id`` as a data column.** The exact-dedup
   reader must exclude the CURRENT batch's own rows on replay (a
   crashed-after-write epoch re-runs with its fingerprints already
   landed; anti-joining against them would erase the whole batch —
   the round-4 self-erasure bug). If compaction dropped the labels,
   a replay of a folded batch could never be excluded. So a baseline
   is a re-land of the same rows — directory consolidation, not
   aggregation — and every reader filter keeps working.
2. **A manifest, not a watermark.** String ids have no "≤ upto"
   order, so each generation carries the SET of folded ids in a
   ``_folded/`` parquet inside the generation directory (the
   underscore prefix hides it from the data read). A replayed folded
   batch recreating its directory is ignored by readers (id ∈
   manifest — its rows already live in the baseline) and swept by the
   next compaction's GC.

Crash-safe commit order: baseline data first (parquet ``_SUCCESS``
root marker), manifest second (own ``_SUCCESS``); a generation counts
only when BOTH are committed, so a crash between the two leaves the
raw batch directories authoritative. GC (folded dirs + older
generations) runs only after the new generation is fully committed
and is pure garbage collection — readers already ignore everything it
deletes. All listings go through the Hadoop FileSystem API (HDFS /
object stores, same discipline as sources/progress.py).

No reference analog (the reference has no incremental index at all);
this backs SURVEY H1/H2's exactly-once increments at unbounded
increment counts.
"""

from __future__ import annotations

import re
from functools import cached_property, lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_GEN_RE = re.compile(r"^gen=(\d+)$")
_EPOCH_RE = re.compile(r"^batch_id=(\d+)$")
_UPTO_RE = re.compile(r"^upto=(\d+)$")
_BATCH_RE = re.compile(r"^batch_id=(.+)$")


def _fs(spark: SparkSession, path: str):
    jpath = _path_class(spark._jvm)(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


@lru_cache(maxsize=1)
def _path_class(jvm):
    # resolving org.apache.hadoop.fs.Path through the JVM view costs a
    # py4j round trip per package segment (~2 ms); resolve it once
    return jvm.org.apache.hadoop.fs.Path


def _jp(spark: SparkSession, *parts: str):
    path = _path_class(spark._jvm)
    p = path(parts[0])
    for q in parts[1:]:
        p = path(p, q)
    return p


def touch_liveness(root: str) -> None:
    """Refresh the LOCAL-FS mtime of a ledger root. The pid-scoped
    scratch roots (plans/ledger_q._index_root) are GC'd by a sibling
    process once their mtime exceeds a staleness TTL; ledger writes
    land in SUBdirectories (``batch_id=``, ``cells/``, ``_compacted/``)
    which do not refresh the root's own mtime, so a single build
    outliving the TTL could have its live root swept mid-run. Calling
    this from every index write/compaction makes the root's mtime
    track actual ledger activity, not just query entry. Best-effort:
    a non-local root (hdfs://, s3://) is not a /tmp scratch root and
    has no sweeper, so the OSError is ignored. When ``root`` is itself
    a SUBTREE of a pid-scoped root (the funnel's fpidx/ndidx/out
    dirs), the enclosing ``*_pid<N>`` directory is refreshed too —
    that is the directory whose mtime the sweeper actually reads."""
    import os
    import re

    if root.startswith("file:"):
        root = root[len("file:"):]
    try:
        os.utime(root, None)
    except OSError:
        pass
    p = os.path.abspath(root)
    if not os.path.isdir(p):  # non-local URI or not-yet-created root
        return
    while True:
        parent = os.path.dirname(p)
        if parent == p:
            return
        p = parent
        if re.search(r"_pid\d+$", os.path.basename(p)):
            try:
                os.utime(p, None)
            except OSError:
                pass
            return
        if os.path.basename(p) == "spark_graft_lake":
            return


def tiny_parquet_rows(spark: SparkSession, path: str) -> list[dict]:
    """Rows of a TINY landed metadata artifact (generation manifest,
    geometry stamp, codebook relation, centroid relation) as plain
    dicts — read ON THE DRIVER via pyarrow when the path is on the
    local filesystem, which costs zero Spark jobs (round-10, guide
    §2: the serving/ledger queries spent 15-25 sequential driver
    round trips per invocation, several of them
    ``spark.read.parquet(<dozens of rows>).collect()``). Any
    non-local scheme (hdfs://, s3a://) falls back to the distributed
    read — the fast path is an optimization, never a requirement.
    ONLY for bounded metadata: never data directories."""
    p = path[len("file:"):] if path.startswith("file:") else path
    if "://" not in p:
        try:
            import pyarrow.parquet as pq

            # dataset discovery skips _SUCCESS and other _-prefixed
            # side files by default
            return pq.read_table(p).to_pylist()
        except Exception:  # noqa: BLE001 — fall back to Spark
            pass
    return [r.asDict()
            for r in spark.read.parquet(path).collect()]


def _has_data(fs, jdir) -> bool:
    """True when the directory holds at least one non-underscore child
    (a zero-row partitionBy write leaves only _SUCCESS, no footers)."""
    return any(not st.getPath().getName().startswith("_")
               for st in fs.listStatus(jdir))


def _children(spark: SparkSession, fs, jdir, rx) -> list:
    """``(id, path, committed)`` for every child of ``jdir`` whose name
    matches ``rx`` (id = its first group; committed = it holds a
    parquet ``_SUCCESS`` marker). A missing ``jdir`` lists empty."""
    if not fs.exists(jdir):
        return []
    path = _path_class(spark._jvm)
    out = []
    for st in fs.listStatus(jdir):
        jp = st.getPath()
        m = rx.fullmatch(jp.getName())
        if m:
            out.append((m.group(1), str(jp.toString()),
                        fs.exists(path(jp, "_SUCCESS"))))
    return out


# ---------------------------------------------------------------------------
# Streaming epoch ledgers (streaming/pipeline.py: count-min, KMV,
# matview, k-means, expectations, drift; driven by plans/ledger_q.py)
# ---------------------------------------------------------------------------

def geometry_guard(df: DataFrame, ok: Column, message: Column) -> DataFrame:
    """``df`` plus a ``_geom_ok`` column (always 1) that exists only
    once ``ok`` held over ALL of ``df``: one 1-row aggregate asserts it
    and is broadcast-joined back. The check is global, never per output
    group — two epochs of different geometry whose populated groups
    never meet would dodge a per-group check and fold silently into
    wrong state. Folds multiply ``F.first("_geom_ok")`` into a count
    (or gate an output on it) so pruning can never elide the
    assertion."""
    chk = df.agg(F.when(F.assert_true(ok, message).isNull(),
                        F.lit(1).cast("long")).alias("_geom_ok"))
    return df.crossJoin(F.broadcast(chk))


class EpochLedger:
    """The epoch-directory ledger protocol, on the Hadoop FileSystem
    API (bare local paths, ``file://``, HDFS and object stores alike).

    Layout under ``root``:

    - ``batch_id=<e>/``: one epoch's state, the batch's monoid fold
      (:meth:`write`). foreachBatch is at-least-once, but the state is
      a pure function of the batch's rows, so a replayed epoch
      overwrites its directory with identical rows: exactly-once.
    - ``_compacted/upto=<N>/``: a baseline holding the fold of every
      epoch ≤ N (:meth:`compact`).

    A directory counts only once its parquet ``_SUCCESS`` commit marker
    exists. Readers see the newest committed baseline plus the
    committed epochs above it (:meth:`live_paths`); a torn epoch is
    never read, and compaction never folds past one, so its replay
    stays live instead of becoming an ignored ghost. Compaction writes
    the new baseline first and only then (``gc``) deletes the epochs
    and baselines it supersedes: a crash in between double-stores but
    never double-counts, and a replayed epoch ≤ N recreating its
    directory is ignored. Folding epochs into a baseline is legal
    because every ledger state is a commutative monoid — the law that
    also makes incremental == one-shot."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    @cached_property
    def fs(self):
        return _fs(self.spark, self.root)[0]

    def _list(self, rx, *sub: str) -> list:
        return sorted((int(n), p, ok) for n, p, ok in
                      _children(self.spark, self.fs,
                                _jp(self.spark, self.root, *sub), rx))

    def baseline(self) -> int | None:
        """``upto`` of the newest committed baseline, or None."""
        done = [n for n, _, ok in self._list(_UPTO_RE, "_compacted")
                if ok]
        return done[-1] if done else None

    def _scan(self) -> tuple[int, list]:
        """(the baseline's ``upto``, -1 without one; every epoch
        directory as ``(epoch, path, committed)``)."""
        base = self.baseline()
        return -1 if base is None else base, self._list(_EPOCH_RE)

    def live_epochs(self) -> list[int]:
        """Committed epochs above the baseline."""
        floor, listed = self._scan()
        return [e for e, _, ok in listed if ok and e > floor]

    def pending(self, epochs) -> list[int]:
        """The ``epochs`` still to land: neither committed nor folded
        into the baseline (a lifecycle replay skips the rest — their
        state would come back byte-identical)."""
        floor, listed = self._scan()
        done = {e for e, _, ok in listed if ok}
        return [e for e in epochs if e > floor and e not in done]

    def live_paths(self) -> list[str]:
        floor, listed = self._scan()
        paths = ([] if floor < 0 else
                 [f"{self.root}/_compacted/upto={floor}"])
        paths += [f"{self.root}/batch_id={e}" for e, _, ok in listed
                  if ok and e > floor]
        if paths:
            return paths
        if listed:
            # a crash during the very first epoch's write: folding its
            # partial files would break the committed-only contract
            raise ValueError(
                f"ledger at {self.root} contains only uncommitted "
                "(torn, no _SUCCESS) epoch writes — refusing to read "
                "partial state; replay the stream to commit the epoch")
        # nothing at all: surface the error a direct read gives
        return [self.root]

    def read(self) -> DataFrame:
        """The raw union of the live state rows (fold it to read)."""
        return self.spark.read.parquet(*self.live_paths())

    def write(self, batch_df: DataFrame, batch_id: int, fold, *,
              one_file: bool = True) -> None:
        """Land ``fold(batch_df)`` as epoch ``batch_id``; an empty
        batch lands nothing."""
        if batch_df.isEmpty():
            return
        state = fold(batch_df)
        if one_file:
            state = state.coalesce(1)
        state.write.mode("overwrite").parquet(
            f"{self.root}/batch_id={int(batch_id)}")
        touch_liveness(self.root)

    def compact(self, fold, *, keep_last: int = 0,
                gc: bool = True) -> int | None:
        """Fold the baseline and every live epoch except the newest
        ``keep_last`` into a new baseline; returns its ``upto`` (None
        when there is nothing to fold). ``fold`` maps the raw union of
        state rows to the folded state — the ledger reader's combine.
        With ``gc`` every superseded directory is deleted after the
        baseline commits: folded epochs, replayed ghosts and torn
        writes ≤ ``upto``, and older or uncommitted baselines."""
        touch_liveness(self.root)
        floor, listed = self._scan()
        listed = [x for x in listed if x[0] > floor]
        live = [e for e, _, ok in listed if ok]
        if len(live) <= keep_last:
            return None
        upto = live[-(keep_last + 1)]
        torn = [e for e, _, ok in listed if not ok]
        if torn:
            upto = min(upto, torn[0] - 1)
        srcs = [p for e, p, ok in listed if ok and e <= upto]
        if not srcs:
            return None
        if floor >= 0:
            srcs.insert(0, f"{self.root}/_compacted/upto={floor}")
        fold(self.spark.read.parquet(*srcs)).write.mode("overwrite") \
            .parquet(f"{self.root}/_compacted/upto={upto}")
        if gc:
            for e, p, _ in self._list(_EPOCH_RE):
                if e <= upto:
                    self.fs.delete(_jp(self.spark, p), True)
            for st in self.fs.listStatus(
                    _jp(self.spark, self.root, "_compacted")):
                if st.getPath().getName() != f"upto={upto}":
                    self.fs.delete(st.getPath(), True)
        return upto


def committed_batch_dirs(spark: SparkSession, root: str) -> dict[str, str]:
    """{batch_id (with the "b" prefix): path} for every COMMITTED
    (_SUCCESS-marked) ``batch_id=`` directory under ``root``. Torn
    writes stay invisible until their replay overwrites them.
    Committed-but-EMPTY dirs are skipped too — reading one as the only
    live path throws "Unable to infer schema"."""
    fs, jroot = _fs(spark, root)
    return {b: p for b, p, ok in _children(spark, fs, jroot, _BATCH_RE)
            if ok and _has_data(fs, _jp(spark, p))}


def _newest_gen(spark: SparkSession, root: str):
    """(gen, baseline_path, folded_ids) of the newest FULLY committed
    generation (data + manifest), or None."""
    fs, _ = _fs(spark, root)
    gens = [(int(g), base) for g, base, ok in
            _children(spark, fs, _jp(spark, root, "_compacted"), _GEN_RE)
            if ok and fs.exists(_jp(spark, base, "_folded", "_SUCCESS"))]
    if not gens:
        return None
    g, base = max(gens)
    folded = {r["batch_id"] for r in
              tiny_parquet_rows(spark, base + "/_folded")}
    return g, base, folded


def read_live_index(spark: SparkSession, root: str) -> DataFrame | None:
    """The index's live rows: newest committed baseline (if any) plus
    every committed batch directory whose id is NOT in the baseline's
    manifest. ``batch_id`` is a real column in both sources, so caller
    filters (e.g. replay self-exclusion) apply uniformly. Returns
    None for an empty/missing index."""
    gen = _newest_gen(spark, root)
    batches = committed_batch_dirs(spark, root)
    parts = []
    if gen is not None:
        _, base, folded = gen
        parts.append(spark.read.parquet(base))
        live = {b: p for b, p in batches.items() if b not in folded}
    else:
        live = batches
    if live:
        # basePath keeps partition discovery rooted at the index root
        # so batch_id/part columns parse identically across the
        # explicit directory list
        parts.append(
            spark.read.option("basePath", root).parquet(*live.values()))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_batch_index(spark: SparkSession, root: str, *,
                        part_col: str, keep_last: int = 0,
                        gc: bool = True, minus: DataFrame | None = None,
                        minus_on: str | None = None,
                        force: bool = False) -> int | None:
    """Fold the live batch directories (all but the ``keep_last``
    most-recently-modified) plus the previous baseline into a new
    generation; returns its number, or None when there is nothing to
    fold. Results are bit-identical before and after: the baseline
    re-lands the same rows, ``batch_id`` preserved as a column,
    partitioned by ``part_col`` so partition-pruned probes keep
    working against the baseline.

    ``minus``/``minus_on`` (round-9, tombstone deletes): when given,
    rows whose ``minus_on`` key appears in ``minus`` are EXCLUDED
    from the folded generation — the physical application of a
    tombstone set. The anti-join runs once at fold time; readers'
    logical anti-joins stay cheap afterwards because the rows are
    gone from the baseline.

    ``force`` (round-9, apply-immediately deletes): normally a call
    with no live batch directories is a no-op; with ``force=True``
    an existing baseline is re-folded into a new generation even
    alone — the vehicle for applying a ``minus`` set to
    already-compacted history."""
    touch_liveness(root)
    fs, _ = _fs(spark, root)
    prev = _newest_gen(spark, root)
    batches = committed_batch_dirs(spark, root)
    if prev is not None:
        prev_g, prev_base, prev_folded = prev
        live = {b: p for b, p in batches.items() if b not in prev_folded}
    else:
        prev_g, prev_base, prev_folded = -1, None, set()
        live = batches
    if keep_last > 0 and live:
        if len(live) <= keep_last:
            # nothing older than the keep window — same no-op contract
            # as the streaming compact_epoch_ledger (a negative slice
            # here would wrap around and fold the OLDEST batch, the
            # exact opposite of keep-the-newest)
            return None
        by_mtime = sorted(
            live.items(),
            key=lambda kv: fs.getFileStatus(
                _jp(spark, kv[1])).getModificationTime())
        live = dict(by_mtime[:len(by_mtime) - keep_last])
    if not live and not (force and prev_base is not None):
        return None

    fold_ids = sorted(prev_folded | set(live))
    srcs = []
    if live:
        srcs.append(
            spark.read.option("basePath", root).parquet(*live.values()))
    if prev_base is not None:
        srcs.append(spark.read.parquet(prev_base))
    data = srcs[0] if len(srcs) == 1 else srcs[0].unionByName(srcs[1])
    if minus is not None:
        if minus_on is None:
            raise ValueError("minus requires minus_on (the join key)")
        data = data.join(minus.select(minus_on).distinct(),
                         minus_on, "left_anti")

    g = prev_g + 1
    base = f"{root}/_compacted/gen={g}"
    # commit order: data first, manifest second — the generation is
    # invisible to readers until both _SUCCESS markers exist
    data.write.mode("overwrite").partitionBy(part_col).parquet(base)
    # manifest: JVM literals while small (~0.3 s vs ~5 s through the
    # Python-RDD path), but fold_ids grows monotonically across
    # compactions and a Catalyst literal tree degrades super-linearly
    # with expression count — past the threshold the flat-scaling
    # createDataFrame path is the right tool despite its fixed cost
    rows = [(b,) for b in fold_ids]
    if len(rows) <= 1024:
        from ..catalog import literal_df
        ids_rel = literal_df(spark, rows, "batch_id string")
    else:
        ids_rel = spark.createDataFrame(rows, "batch_id string")
    ids_rel.coalesce(1).write.mode("overwrite") \
        .parquet(base + "/_folded")

    if gc:
        # pure garbage: folded batch dirs (including ghosts recreated
        # by replays after earlier compactions), torn dirs for folded
        # ids, and superseded generations
        folded_set = set(fold_ids)
        jroot = _jp(spark, root)
        for st in fs.listStatus(jroot):
            name = st.getPath().getName()
            if name.startswith("batch_id=") and \
                    name[len("batch_id="):] in folded_set:
                fs.delete(st.getPath(), True)
        comp = _jp(spark, root, "_compacted")
        for st in fs.listStatus(comp):
            if st.getPath().getName() != f"gen={g}":
                fs.delete(st.getPath(), True)
    return g


def assert_live_batch_count(spark: SparkSession, root: str) -> int:
    """Observable for tests/monitoring: number of live (committed,
    unfolded) batch directories a reader would touch."""
    gen = _newest_gen(spark, root)
    folded = gen[2] if gen is not None else set()
    return len([b for b in committed_batch_dirs(spark, root)
                if b not in folded])
