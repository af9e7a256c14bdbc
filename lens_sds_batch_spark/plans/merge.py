"""LWW merge / upsert application (SURVEY.md §7.3 milestone 4).

The reference delegates actual store mutation to the downstream
transaction processor; for our engine to be queryable the command
stream must be *applicable*.  The portable pattern (no Delta needed):
union current+incoming → row_number over the key ordered by recency →
keep rank 1 → drop tombstones.  With Delta/Iceberg on the cluster this
becomes ``MERGE INTO``; the semantics below are identical.

At 100 TB: one shuffle on the merge key (same layout the downstream
queries want), map-side combinable, AQE-skew-safe.
"""

from __future__ import annotations

import contextlib
import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_ckpt, release_ckpt

# Manifest-commit layout — the one store behind merge_into.  Rows are
# laid out by key hash as ``__bucket=K`` partition directories, and
# live data is resolved through ONE small manifest file instead of
# directory renames.  Touched buckets are written as fresh generation
# directories ``__bucket=K/__gen=g<hex>/`` (non-live until committed —
# a crash strands only garbage a vacuum can collect), then a single
# manifest ``_manifest/<seq>.json`` pins the live generation per
# bucket together with the bucket count, key set, key dtypes and full
# schema, so every later batch hashes keys into the SAME buckets.  The
# commit point is one FILE rename (atomic on local/HDFS; a
# single-object copy on S3A, where directory renames are non-atomic
# O(data) copy+delete).  Readers resolve paths through the latest
# manifest (read_merged_table), so the table always reads as exactly
# pre- or post-commit at every crash point.
BUCKET_COL = "__bucket"
MANIFEST_DIR = "_manifest"
GEN_COL = "__gen"

# Writer fence (r11 verdict #2): merges, maintenance and evolution of
# one target take turns; the lease turns a second concurrent writer
# into a loud refusal instead of two writers staging into one tmp dir.
# The lease is a sibling FILE (<target>.__lease) made by the seam's
# atomic exclusive create (NOT a Byzantine-proof lock).  A holder that
# dies leaves the lease behind; a later writer takes over once it is older
# than ``LEASE_STALE_SEC`` — size that above the longest expected
# merge, or a slow merge can be taken over mid-flight.
LEASE_SUFFIX = ".__lease"
LEASE_STALE_SEC = 3600.0


@contextlib.contextmanager
def _writer_lease(spark, target_path: str, who: str, missing_ok: bool = False):
    """Hold the single-writer lease of a merge target (see LEASE_SUFFIX
    above) and yield the table's :func:`_resolve` read under it — the
    one way the writers (merge_into, vacuum, compaction, rebucket,
    evolve_schema) open a table.  Raises IOError, naming ``who``, when
    another writer holds a non-stale lease; takes over a stale one
    (best-effort: two simultaneous takeovers can still race — the loser
    of the re-create dies loudly).  Released on success AND on exception
    (a failed merge must be REPLAYED, not resumed, so holding the lease
    past the failure would only block the replay); only process death
    leaves it for age-based takeover.  Acquisition is the seam's atomic
    exclusive create (:meth:`_Store.create_exclusive`)."""
    import os
    import socket
    import time as _time

    store = _open_table(spark, target_path)
    lease = store.tgt + LEASE_SUFFIX
    payload = json.dumps(
        {
            "pid": os.getpid(),
            "host": socket.gethostname(),
            "acquired_unix_ms": int(_time.time() * 1000),
        }
    ).encode("utf-8")
    try:
        store.create_exclusive(lease, payload)
    except Exception:
        # a file lists as itself; [] when the holder released between
        # the failed create and this listing
        held = store.list(lease)
        age = _time.time() - held[0].mtime / 1000.0 if held else None
        if age is not None and age <= LEASE_STALE_SEC:
            raise IOError(
                f"{who}: another writer holds the lease at {lease} (age "
                f"{age:.0f}s <= stale threshold {LEASE_STALE_SEC:.0f}s); "
                "concurrent writes into one merge target take turns — wait "
                "for the holder and retry"
            )
        store.delete(lease)  # stale (holder died) or vanished
        try:
            store.create_exclusive(lease, payload)
        except Exception as e:
            raise IOError(
                f"{who}: lease contention at {lease} — a second writer "
                "re-created the lease during stale takeover"
            ) from e
    try:
        yield store, _read_manifest(store, who, missing_ok=missing_ok)
    finally:
        store.delete(lease)


def bucket_expr(keys: list[str], num_buckets: int) -> Column:
    """Deterministic bucket id for a key tuple: pmod(xxhash64(keys), N).

    Raw typed columns feed the hash (xxhash64 is defined for every
    atomic Spark type); the expression must never change once a target
    is laid out — the manifest pins N, the key set and the key dtypes
    precisely so re-derivation on a later batch cannot drift."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)).cast(
        "int"
    )


def apply_lww(
    df: DataFrame,
    keys: list[str],
    order_cols: list[Column],
    is_delete: Column,
) -> DataFrame:
    """Keep the latest row per key (ordering = order_cols DESC chain),
    dropping keys whose latest row is a tombstone.

    A NULL ``is_delete`` on the winning row drops the key too:
    ``where(~NULL)`` filters NULL exactly like SQL's ``WHERE NOT
    is_remove`` — the DuckDB oracles rely on that agreement, so do NOT
    "fix" this to coalesce NULL→False without changing both sides.
    Callers with nullable tombstone sources should coalesce BEFORE
    calling if keep-on-NULL is the semantics they want."""
    if "__rk" in df.columns:  # would be overwritten then dropped below
        raise ValueError("apply_lww: input may not carry the reserved column __rk")
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in order_cols])
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .where(~is_delete)
        .drop("__rk")
    )


def _lww_union(current, upd_tagged, keys, order_exprs, row_hash):
    """The ONE copy of the merge semantics: target rows outrank update
    rows on exact order-chain ties (``__tgt_pri``), the shared row hash
    breaks within-batch ties, and the tombstone flag is pre-computed on
    ``upd_tagged`` only."""
    if current is None:
        unioned = upd_tagged
    else:
        unioned = (
            current.withColumn("__tgt_pri", F.lit(1))
            .withColumn("__del", F.lit(False))
            .unionByName(upd_tagged)
        )
    return apply_lww(
        unioned, keys, order_exprs + [F.col("__tgt_pri"), row_hash], F.col("__del")
    ).drop("__tgt_pri", "__del")


def merge_into(
    spark,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    order_cols: list[str],
    is_delete: Column,
    num_buckets: int | None = None,
    protocol: str | None = None,
    commit_meta: dict | None = None,
    expect_seq: int | None = None,
) -> dict:
    """Apply an update batch to a stored merge target: the latest row
    per key wins by the ``order_cols`` DESC chain; a key disappears
    when its winner is an UPDATE row satisfying ``is_delete``.

    - STORE: the manifest-commit layout (see the header comment), the
      only one.  The first call on a missing or empty path materializes
      a manifest table at ``num_buckets`` key-hash buckets (None means
      1); bucket count, keys, key dtypes and the full batch schema are
      pinned in the manifest and auto-detected on every later call, so
      callers need not re-pass them (a re-passed ``num_buckets`` must
      match).  Each batch collapses to its TOUCHED buckets, reads only
      their live generations, merges, writes fresh generations and
      commits one manifest — O(touched-bucket bytes + batch) per call,
      O(touched) filesystem calls, untouched buckets never read or
      rewritten.  Crash contract: the table reads as EXACTLY pre-merge
      until the manifest-file rename lands and exactly post-merge after
      — no recovery pass, no replay-before-new-batch rule, safe on S3A.
      Read state through :func:`read_merged_table` (a plain root read
      would see every retained generation); collect superseded
      generations with :func:`vacuum_merged_table`; re-layout with
      :func:`rebucket`.  An existing path that is not a manifest table
      is refused, never migrated in place.  ``protocol`` accepts None
      or ``'manifest'`` (the same thing); ``'rename'`` named a removed
      flavor and raises.
    - SINGLE WRITER, enforced by a create-exclusive lease file
      (<target>.__lease, r11 verdict #2): a second concurrent
      merge/rebucket/compaction raises IOError instead of interleaving;
      a dead holder's lease is taken over after ``LEASE_STALE_SEC``.
    - COMMIT METADATA / CAS (r14): ``commit_meta`` is a JSON dict
      committed ATOMICALLY inside the same manifest rename as the data
      — the transactional-offsets pattern: a downstream consumer that
      records its source cursor here can never observe
      data-without-cursor or cursor-without-data, so its replay after
      any crash is exactly-once (plans/ivm.refresh_aggregate is the
      first consumer).  The latest value is carried forward UNCHANGED
      by every later commit (merges without commit_meta, compaction,
      rebucket, evolve_schema) until the next commit_meta merge
      replaces it; read it back with :func:`read_commit_meta`.  An
      explicit commit_meta with a batch that touches NO buckets still
      commits (metadata-only, live map unchanged) so the cursor can
      advance past a range that netted out to nothing.  ``expect_seq``
      is optimistic concurrency: refuse to merge unless the latest
      committed manifest seq still equals it — required by
      read-modify-write planners (the IVM delta apply), whose updates
      are only correct against the exact state they were planned from;
      the writer lease serializes commits but cannot see plan-time
      reads.
    - TOMBSTONE CONTRACT (r8 continuation review): ``is_delete`` is
      evaluated on UPDATE rows ONLY, with NULL normalized to False —
      MERGE semantics, where only a newer matching source row can
      delete a stored key.  Stored rows are never re-evaluated as
      tombstones, so a NULL or stale flag on stored data can never
      destroy it.  This differs deliberately from bare
      :func:`apply_lww`, whose single-frame contract keeps its
      documented NULL-drops semantics.
    - ``order_cols`` are COLUMN NAMES (not expressions): the contract
      is stated over stored columns, so a ``MERGE INTO`` port can build
      its lexicographic "source is newer" condition on both sides.
    - TIE-BREAK CONTRACT (total since r8): exact ties on the FULL
      ``order_cols`` chain keep the TARGET row (a target-priority
      column joins the ordering) — what ``MERGE INTO`` with a strict
      "source newer than target" condition does.  Ties WITHIN the
      update batch resolve by ``xxhash64`` over the full row, so the
      result is deterministic without the caller supplying a sequence
      column.  NULL order values rank as the OLDEST (the DESC sort is
      NULLS LAST); a ``MERGE INTO`` port must build its condition
      null-safe (``<=>`` on the tie chain plus an explicit
      non-NULL-beats-NULL term — a naive ``>`` strands NULL-ordered
      target rows forever).  (A 64-bit hash collision between two
      DISTINCT tied rows would re-open arbitrariness; at that
      probability the caller's own sequence column is the remedy.)
      tests/test_property_differential.py holds the executable model
      of these contracts (``MERGE INTO`` semantics).
    - DELTA: there is no Delta branch.  delta-spark is not part of this
      engine's toolchain, so such a branch could never run or be
      tested here.  A Delta-backed store would plug in as one dispatch
      at the top of this function (Delta target → ``MERGE INTO``
      honouring the three contracts above), leaving this path as the
      portable default.

    Returns ``{"engine": "parquet-manifest", "rows": None,
    "touched_rows", "touched_buckets", "num_buckets", "seq"}`` — no
    full-table count (that scan is what the touched-bucket path
    avoids); ``touched_rows`` is the merged row count of the touched
    buckets, riding the write via ``Observation``.
    """
    if num_buckets is not None and num_buckets < 1:
        raise ValueError(f"merge_into: num_buckets must be >= 1, got {num_buckets}")
    if protocol == "rename":
        raise ValueError(
            "merge_into: protocol='rename' was removed — the manifest-commit "
            "layout is the only merge_into store; drop the argument or pass "
            "protocol='manifest'"
        )
    if protocol not in (None, "manifest"):
        raise ValueError(
            f"merge_into: protocol must be None or 'manifest', got {protocol!r}"
        )
    if not order_cols:
        # an empty chain would make the target win every comparison: a
        # silent no-op merge — refuse loudly
        raise ValueError("merge_into: order_cols must be non-empty")
    missing = [k for k in keys if k not in updates.columns]
    if missing:
        raise ValueError(
            f"merge_into: key columns {missing} are not in the batch "
            f"(columns: {updates.columns})"
        )
    if commit_meta is not None:
        try:
            json.dumps(commit_meta)
        except (TypeError, ValueError) as e:
            raise ValueError(
                f"merge_into: commit_meta must be JSON-serializable "
                f"(it rides the manifest file): {e}"
            ) from e
        if not isinstance(commit_meta, dict):
            raise ValueError(
                f"merge_into: commit_meta must be a dict, got "
                f"{type(commit_meta).__name__}"
            )
    # GEN_COL joined the set in r12: a data column named __gen would
    # collide with the generation partition dirs at read
    # (partition-vs-data column shadowing) and the resolver's
    # drop(GEN_COL) would silently erase it from every result
    reserved = {BUCKET_COL, GEN_COL, "__del", "__tgt_pri", "__rk"} & set(
        updates.columns
    )
    if reserved:  # would be silently overwritten and dropped from output
        raise ValueError(
            f"merge_into: updates may not carry reserved columns {sorted(reserved)}"
        )
    order_exprs = [F.col(c) for c in order_cols]
    # deterministic within-batch tiebreak (see TIE-BREAK CONTRACT above):
    # hash of the full payload row
    row_hash = F.xxhash64(*[F.col(c) for c in updates.columns])
    with _writer_lease(spark, target_path, "merge_into", missing_ok=True) as (
        store, man,
    ):
        if man is None:
            man = _init_manifest_table(
                store, keys, num_buckets or 1, dict(updates.dtypes)
            )
        man_seq, _, m = man
        _check_layout_compat(
            store.tgt, keys, updates, m["keys"], m["key_types"],
            num_buckets, int(m["num_buckets"]), spec_columns=m["columns"],
        )
        return _manifest_merge(
            spark, store, updates, keys,
            order_exprs, row_hash, is_delete, man_seq, m,
            commit_meta=commit_meta, expect_seq=expect_seq,
        )


def _check_layout_compat(
    target_path, keys, updates, spec_keys, spec_types, num_buckets, spec_n,
    spec_columns,
):
    """Key/bucket/dtype validation of a batch against the manifest's
    pinned layout.  ``spec_columns`` (r12): the full-schema pin."""
    if list(keys) != list(spec_keys):
        raise ValueError(
            f"merge_into: target {target_path} is bucketed on keys "
            f"{list(spec_keys)}, caller passed {list(keys)}"
        )
    if num_buckets is not None and num_buckets != spec_n:
        raise ValueError(
            f"merge_into: target {target_path} has {spec_n} buckets, "
            f"caller passed num_buckets={num_buckets}"
        )
    upd_types = dict(updates.dtypes)
    drift = {
        k: (spec_types.get(k), upd_types.get(k))
        for k in keys
        if spec_types.get(k) != upd_types.get(k)
    }
    if drift:  # xxhash64 is type-sensitive: same value, other bucket
        raise ValueError(
            f"merge_into: key dtype drift vs the manifest at "
            f"{target_path}: {drift} (manifest, batch) — the same logical "
            "key would hash into a different bucket space; cast the "
            "batch keys back to the pinned types"
        )
    _check_schema_pin(target_path, spec_columns, upd_types)


def _gen_paths(tgt: str, live: dict) -> list[str]:
    """Directories of the given ``{bucket: gen}`` generations, in
    bucket order."""
    return [
        f"{tgt}/{BUCKET_COL}={b}/{GEN_COL}={g}"
        for b, g in sorted(live.items(), key=lambda kv: int(kv[0]))
    ]


def _pinned_read(spark, tgt: str, live: dict, pinned: dict) -> DataFrame:
    """The rows of the ``{bucket: gen}`` generations ``live`` of table
    ``tgt``, read under the schema pin ``pinned`` of the manifest that
    lists them — ``__bucket`` exposed, ``__gen`` resolved away.  The one
    way every store read opens generation directories.

    No schema inference (r14-opt, guide §6 metadata-driven reads):
    inference runs a distributed footer job on every call, and
    ``mergeSchema`` a footer union — at 100 TB a pass over every touched
    file's footer per merge/read, at the gate scale a fixed extra job
    per protocol phase (measured: the three footer jobs of a
    2-generation read vanish under an explicit schema, and the change
    feed lost one per side).  The pin IS the schema: a committed
    manifest's live generations always match it exactly except for
    columns a METADATA-ONLY add left out of older files, which the
    parquet reader null-fills, and a widen rewrites every live bucket
    before its manifest names the wider type (probe: same schema incl.
    the appended partition columns, same rows).  A reader that compares
    two manifests (the change feed) reads each side under its own pin
    and casts to the newer one."""
    ddl = ", ".join(
        "`" + c.replace("`", "``") + "` " + t for c, t in pinned.items()
    )
    return (
        spark.read.option("basePath", tgt).schema(ddl)
        .parquet(*_gen_paths(tgt, live)).drop(GEN_COL)
    )


def _check_schema_pin(target_path, pinned, upd_types) -> None:
    """Refuse a batch whose value schema drifts from ``pinned`` (the
    manifest's ``columns`` pin).  A drifted batch landing in an EMPTY
    bucket would write a divergent per-bucket schema that reads
    non-deterministically (unionByName never sees the conflict), and a
    RETYPED column would silently type-coerce or explode mid-job as a
    runtime cast error (r12 probe)."""
    if dict(upd_types) == dict(pinned):
        return
    pinned, upd_types = dict(pinned), dict(upd_types)
    extra = sorted(set(upd_types) - set(pinned))
    missing = sorted(set(pinned) - set(upd_types))
    retyped = {
        c: (pinned[c], upd_types[c])
        for c in set(upd_types) & set(pinned)
        if upd_types[c] != pinned[c]
    }
    raise ValueError(
        f"merge_into: batch schema drift vs the stored schema at "
        f"{target_path}: extra columns {extra}, missing {missing}, "
        f"retyped {retyped} (stored, batch) — align the batch, or evolve "
        "the stored schema explicitly with plans.merge.evolve_schema("
        "add=..., widen=...) before merging the drifted batch"
    )


def _ckpt_with_touched(
    updates: DataFrame, keys: list[str], n_buckets: int, is_delete: Column
) -> tuple[DataFrame, list]:
    """Tag the batch with its bucket id, eagerly checkpoint it, and
    return ``(pinned_batch, sorted touched bucket ids)`` in ONE job:
    the touched set rides the checkpoint materialization as an
    ``Observation`` (collect_set) instead of a second
    distinct-collect job over the checkpoint (r15 — the merge
    protocol is per-action-latency-bound on micro-batches; this
    drops one driver round trip per merge).  The eager checkpoint
    stays load-bearing: the batch is consumed again by the LWW union,
    and a non-deterministic source re-evaluating between passes could
    otherwise emit rows into buckets missing from ``touched`` (rows
    silently dropped at staging time).  The observed set is computed
    ON the very materialization the union reads — the same rows by
    construction."""
    from pyspark.sql import Observation

    obs = Observation()
    upd_tagged = local_ckpt(
        updates.withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
        .withColumn("__tgt_pri", F.lit(0))
        .withColumn("__del", F.coalesce(is_delete.cast("boolean"), F.lit(False)))
        .observe(obs, F.collect_set(BUCKET_COL).alias("touched")),
        eager=True,
    )
    return upd_tagged, sorted(obs.get["touched"])


# ---------------------------------------------------------------------------
# Manifest commits (r11 verdict #1).  Layout:
#
#   <target>/_manifest/<seq:020d>.json         committed manifests
#   <target>/_manifest/.tmp-<gen>.json         in-flight commit (ignored)
#   <target>/__bucket=K/__gen=<gen>/part-*.parquet
#   <target>.__tmp/__bucket=K/                 staging area (non-live)
#
# The manifest pins {num_buckets, keys, key_types, columns, buckets:
# {K: gen}, seq, gen} plus the application's app_meta.  A bucket absent
# from `buckets` is empty.  Generation directories are NON-LIVE until a
# manifest referencing them is committed, so every write before the
# commit is crash-garbage at worst; the commit itself is one
# single-FILE rename (_commit_manifest).  Every writer — merge,
# rebucket, widen, compaction, metadata-only commits — goes through
# _commit_next.  Readers resolve live paths through read_merged_table;
# superseded generations and manifests are collected by
# vacuum_merged_table.
# ---------------------------------------------------------------------------


class _Store:
    """The one filesystem seam of a manifest table: every filesystem op
    of this module goes through one of these methods, on string paths,
    and no other line builds a Hadoop path or opens a file.  Holds the
    table path ``tgt`` (no trailing slash) and its Hadoop filesystem.
    Tests substitute a fake by patching :func:`_open_table`."""

    class Entry:
        """A listed entry: its name, and status fields that cost one JVM
        round trip each, read on use (``mtime`` in epoch millis)."""

        def __init__(self, st):
            self._st, self.name = st, st.getPath().getName()

        is_dir = property(lambda self: bool(self._st.isDirectory()))
        length = property(lambda self: int(self._st.getLen()))
        mtime = property(lambda self: int(self._st.getModificationTime()))

    def __init__(self, spark, target_path: str):
        self._spark = spark
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(target_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self.tgt = target_path.rstrip("/")

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path)))

    def list(self, path: str) -> list:
        """The :class:`Entry` rows of directory ``path``; ``[]`` when it
        is missing, and a file lists as itself."""
        try:
            sts = self._fs.listStatus(self._path(path))
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
                raise
            return []
        return [self.Entry(st) for st in sts]

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._path(path))

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs.rename(self._path(src), self._path(dst)))

    def delete(self, path: str) -> None:
        """Delete a file, or a directory with its contents; a missing
        path is a no-op."""
        self._fs.delete(self._path(path), True)

    def read_bytes(self, path: str) -> bytes:
        stm = self._fs.open(self._path(path))
        try:
            return bytes(
                self._spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stm)
            )
        finally:
            stm.close()

    def write_bytes(self, path: str, data: bytes, overwrite: bool = True) -> None:
        out = self._fs.create(self._path(path), overwrite)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def create_exclusive(self, path: str, data: bytes) -> None:
        """Create ``path`` holding ``data``; raise when it exists.  On
        ``file://``: POSIX ``O_CREAT|O_EXCL`` after making the parent dirs
        (r12: Hadoop's ``create(overwrite=false)`` is check-then-create on
        RawLocalFileSystem, so two same-host writers could both hold the
        lease; ADVICE r12: a missing parent must not read as contention)."""
        if self._fs.getUri().getScheme() != "file":
            return self.write_bytes(path, data, overwrite=False)
        import os

        local = path[len("file:"):] if path.startswith("file:") else path
        if os.path.dirname(local):
            os.makedirs(os.path.dirname(local), exist_ok=True)
        fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, data)
        finally:
            os.close(fd)

    def write_parquet(self, df: DataFrame, path: str, partition_by=()) -> None:
        """The staging write: ``df`` as parquet at ``path``, replacing
        what is there."""
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def _open_table(spark, target_path: str) -> _Store:
    """The filesystem seam of the table at ``target_path``."""
    return _Store(spark, target_path)


def _manifest_dir(tgt: str) -> str:
    return tgt.rstrip("/") + "/" + MANIFEST_DIR


def _tmp_dir(tgt: str) -> str:
    return tgt.rstrip("/") + ".__tmp"


def _manifest_seq(name: str) -> int | None:
    """The seq of a committed manifest's file name, else None.
    Committed names are the bare zero-padded seq (``<seq:020d>.json``);
    a ``-suffix`` after the seq is tolerated for forward compat."""
    if name.startswith(".") or not name.endswith(".json"):
        return None
    head = name[: -len(".json")].split("-", 1)[0]
    return int(head) if head.isdigit() else None


def _list_manifests(store) -> list:
    """Sorted ``[(seq, filename, entry)]`` of committed manifests (one
    listing); [] when none.  The commit rename is a manifest's last
    write, so the entry's mtime is the commit instant."""
    es = store.list(_manifest_dir(store.tgt))
    return sorted(((_manifest_seq(e.name), e.name, e) for e in es
                   if _manifest_seq(e.name) is not None), key=lambda m: m[:2])


def _read_manifest(
    store, who: str, as_of_seq: int | None = None, missing_ok: bool = False,
    ms: list | None = None,
):
    """Return (seq, filename, manifest_dict) for the LATEST committed
    manifest of ``store`` (from the listing ``ms``, taken here when not
    given).  An existing-but-unreadable latest manifest raises loudly:
    guessing would either read stale generations or route keys into the
    wrong bucket space.  So does a manifest without the ``columns``
    schema pin: every commit since r12 carries it, and no reader or
    writer has a pin-less path.  Every refusal is prefixed with ``who``,
    the entry point the caller named.

    A path with no committed manifest raises THE "no table here"
    refusal.  Data this store did not write (a plain parquet table, or a
    layout from an older build) is never guessed at: a guess would
    either hide that data or overwrite it, so the migration is an
    explicit read + merge into a new path.  ``missing_ok`` (the tolerant
    readers, and merge_into's first commit) returns None instead for a
    missing or empty path — one holding at most the uncommitted
    ``_manifest`` dir a crash mid-init leaves.

    ``as_of_seq`` (r12 snapshot reads) selects the latest manifest with
    ``seq <= as_of_seq`` instead — Delta ``versionAsOf`` semantics.  A
    manifest layout with no commit at-or-below the requested seq raises
    (the snapshot predates the table, or vacuum already collected it);
    returning the oldest retained state instead would silently answer a
    different question.  A seq BEYOND the newest commit raises too
    (ADVICE r12, matching Delta's versionAsOf on a nonexistent future
    version): a typo'd or wrong-table seq must not silently read the
    latest state as if it were the requested snapshot."""
    tgt = store.tgt
    if ms is None:
        ms = _list_manifests(store)
    if not ms:
        held = sorted(e.name for e in store.list(tgt) if e.name != MANIFEST_DIR)
        if held or not missing_ok:
            raise ValueError(
                f"{who}: no table at {tgt} — it is not a manifest-commit "
                f"target (no bucketed layout; it holds {held[:5] or 'nothing'}). "
                "merge_into lays a table out on a fresh target; read other "
                "data with spark.read and merge it into a new path (no "
                "in-place migration)"
            )
        return None
    if as_of_seq is not None:
        if as_of_seq > ms[-1][0]:
            raise ValueError(
                f"{who}: seq {as_of_seq} is beyond the latest commit (seq "
                f"{ms[-1][0]}) of {tgt} — like Delta versionAsOf, a "
                "nonexistent future version is an error, not the latest state"
            )
        ms = [m for m in ms if m[0] <= as_of_seq]
        if not ms:
            raise ValueError(
                f"{who}: no manifest at or below seq {as_of_seq} for {tgt} — "
                "the snapshot predates the table or was vacuumed; "
                "list_snapshots() shows what is retained"
            )
    seq, name, _ = ms[-1]
    path = _manifest_dir(tgt) + "/" + name
    try:
        man = json.loads(store.read_bytes(path))
        for field in ("num_buckets", "keys", "key_types", "buckets"):
            if field not in man:
                raise KeyError(field)
    except Exception as e:
        raise ValueError(
            f"{who}: unreadable/corrupt manifest at {path} ({e!r}); "
            "refusing to guess the table state — repair or remove the table"
        ) from e
    if "columns" not in man:
        raise ValueError(
            f"{who}: manifest {path} carries no schema pin "
            "('columns'): the table predates the schema pin, which every "
            "reader and writer requires — read its live generation "
            "directories with spark.read.parquet and re-merge the rows "
            "into a new path"
        )
    return seq, name, man


def _resolve(spark, target_path: str, who: str, as_of_seq=None, missing_ok=False):
    """``(store, man)``: :func:`_open_table` plus the table's ``(seq,
    name, manifest)`` as :func:`_read_manifest` resolves it."""
    store = _open_table(spark, target_path)
    return store, _read_manifest(store, who, as_of_seq, missing_ok)


def _commit_manifest(store, seq: int, gen: str, man: dict) -> None:
    """Atomically commit a manifest: write to a dot-prefixed tmp file,
    then ONE file rename to the seq-ordered final name.  The rename is
    the commit point; a crash on either side leaves the previous
    manifest live and at most a .tmp-* straggler for vacuum.

    The final name is the BARE seq (``<seq:020d>.json``), deliberately
    collision-prone: it makes the commit an atomic SEQ CLAIM.  A slow
    (not dead) writer resuming after a stale-lease takeover committed
    past it would otherwise land a second manifest at the same seq
    under a different gen-suffixed name — no filesystem conflict, and
    whichever sorted later would silently shadow the other batch.
    With the bare-seq name the straggler's rename fails (dest exists /
    rename returns false) and it dies loudly instead; its staged
    generations are vacuum fodder and its batch gets replayed."""
    mdir = _manifest_dir(store.tgt)
    store.mkdirs(mdir)
    tmp_p, final = mdir + f"/.tmp-{gen}.json", mdir + f"/{seq:020d}.json"
    store.write_bytes(tmp_p, json.dumps(man).encode("utf-8"))
    if store.exists(final) or not store.rename(tmp_p, final):
        store.delete(tmp_p)
        raise IOError(
            f"merge_into: manifest commit {mdir}/{seq:020d}.json failed — "
            "seq already claimed (a concurrent writer committed past this "
            "one, e.g. after a stale-lease takeover); replay the batch"
        )


APP_META_KEY = "app_meta"


def _new_gen() -> str:
    """Generation id: 'g' prefix guarantees the __gen partition value is
    inferred as STRING (an all-digit hex id would infer as int and make
    the read schema depend on the draw)."""
    import uuid

    return "g" + uuid.uuid4().hex[:12]


def _commit_next(store, man_seq: int, man: dict, buckets, data=None, **fields) -> int:
    """THE commit protocol — every writer of a manifest table commits
    through here; returns the committed seq (``man_seq + 1``).

    1. ``data`` (a frame carrying ``__bucket``), when given, is written
       partitioned into the staging dir ``<target>.__tmp`` after any
       crashed run's leftovers there are deleted (under dynamic
       partitionOverwriteMode a stale bucket dir would survive the
       overwrite and be staged as ghost rows).  Callers that need
       another write shape (compaction's per-bucket coalesce) fill
       ``<target>.__tmp/__bucket=K/`` themselves and pass no ``data``.
    2. Stage: each staged bucket dir is renamed under its bucket as a
       fresh ``__gen``.  These renames need not be atomic — nothing
       resolves them until the commit — which is what makes the
       protocol safe where directory renames are copy+delete (S3A).
       ``buckets`` lists the bucket ids this commit rewrites against
       the current live map: a listed bucket with no staged dir was
       emptied by deletes and leaves the map; ``[]`` is a
       metadata-only commit.  ``buckets=None`` means the write replaced
       the whole table: the new live map is exactly the staged dirs.
    3. Commit one manifest carrying the current one's layout, schema
       pin and app_meta forward, overridden by ``fields``
       (``num_buckets``, ``columns``, ``app_meta``).  app_meta must
       ride EVERY commit: an exactly-once consumer
       (plans/ivm.refresh_aggregate) keeps its source cursor there, and
       a maintenance commit that shed it would rewind the consumer into
       a double-apply.
    4. Drop the staging dir (a lost cleanup is the next writer's stale
       leftover, deleted in step 1)."""
    tgt, tmp = store.tgt, _tmp_dir(store.tgt)
    prefix = BUCKET_COL + "="
    if data is not None:
        store.delete(tmp)
        store.write_parquet(data, tmp, partition_by=[BUCKET_COL])
    staged = {  # one listing; a metadata-only commit stages nothing
        e.name[len(prefix):] for e in store.list(tmp) if e.name.startswith(prefix)
    } if buckets != [] else set()
    if buckets is None:
        live, buckets = {}, sorted(staged)
    else:
        live = dict(man["buckets"])
    gen = _new_gen()
    for b in buckets:
        name = f"{prefix}{b}"
        if str(b) in staged:
            store.mkdirs(f"{tgt}/{name}")
            if not store.rename(f"{tmp}/{name}", f"{tgt}/{name}/{GEN_COL}={gen}"):
                raise IOError(
                    f"merge_into: could not stage generation "
                    f"{tgt}/{name}/{GEN_COL}={gen}"
                )
            live[str(b)] = gen
        else:  # bucket emptied by deletes: drop it from the live map
            live.pop(str(b), None)
    seq = man_seq + 1
    carried = {
        k: man[k]
        for k in ("num_buckets", "keys", "key_types", "columns", APP_META_KEY)
        if k in man
    }
    _commit_manifest(
        store, seq, gen,
        {**carried, **fields, "buckets": live, "seq": seq, "gen": gen},
    )
    if data is not None or buckets:
        store.delete(tmp)
    return seq


def _init_manifest_table(store, keys, num_buckets: int, columns: dict) -> tuple:
    """Materialize an EMPTY manifest table (seq 0, no live buckets) and
    return its ``(seq, name, manifest)``; the first batch is then an
    ordinary manifest merge against empty state — one code path for
    first and every later batch.  Idempotent across a crash mid-init:
    re-init is allowed while the target holds nothing but an
    uncommitted _manifest dir; :func:`_resolve` refused anything else."""
    layout = {
        "num_buckets": int(num_buckets),
        "keys": list(keys),
        "key_types": {k: columns[k] for k in keys},
        "columns": dict(columns),
        "buckets": {},
    }
    seq = _commit_next(store, -1, layout, [])
    return seq, f"{seq:020d}.json", {**layout, "seq": seq}


def _manifest_merge(
    spark, store, updates, keys, order_exprs, row_hash, is_delete,
    man_seq: int, man: dict,
    commit_meta: dict | None = None, expect_seq: int | None = None,
) -> dict:
    """Incremental merge: read ONLY the touched buckets' live
    generations, merge, and commit fresh generations for them through
    :func:`_commit_next`.  Crash contract: the table reads as exactly
    pre-merge until the manifest rename lands and exactly post-merge
    after — every earlier crash point strands only unreferenced
    generation dirs / a .tmp manifest (vacuum fodder), and the batch
    replay converges (LWW idempotence), with no recovery pass needed."""
    from pyspark.sql import Observation

    tgt = store.tgt
    if expect_seq is not None and man_seq != expect_seq:
        # optimistic CAS (r14): a read-modify-write planner (e.g. the
        # IVM refresh, which adds deltas onto values it looked up at
        # plan time) must refuse when its basis moved — applying its
        # rows onto a NEWER state would double-count, and the lease
        # only serializes the merges, not the planning reads.
        raise ValueError(
            f"merge_into: expect_seq={expect_seq} but the latest committed "
            f"manifest of {tgt} is seq {man_seq} — the state this batch was "
            "planned against has moved; re-plan from the current state and "
            "retry"
        )
    meta = {APP_META_KEY: commit_meta} if commit_meta is not None else {}
    n_buckets = int(man["num_buckets"])
    live = man["buckets"]
    result = {
        "engine": "parquet-manifest",
        "rows": None,  # no full-table count — that scan is what this path avoids
        "touched_rows": 0,
        "touched_buckets": [],
        "num_buckets": n_buckets,
        "seq": man_seq,
    }

    # Eager checkpoint + touched-bucket set in one job (r15; see
    # _ckpt_with_touched for the determinism contract the checkpoint
    # carries).  The batch is micro-batch-sized, not table-sized.
    upd_tagged, touched = _ckpt_with_touched(updates, keys, n_buckets, is_delete)
    try:
        if not touched:
            if commit_meta is not None:
                # an explicit commit_meta must land even with zero data
                # rows: a METADATA-ONLY commit (live map unchanged) lets
                # an exactly-once consumer advance its cursor past a
                # range that netted out to nothing
                result["seq"] = _commit_next(store, man_seq, man, [], **meta)
            return result
        existing = {str(b): live[str(b)] for b in touched if str(b) in live}
        current = None
        if existing:
            current = _pinned_read(spark, tgt, existing, man["columns"])
        merged = _lww_union(current, upd_tagged, keys, order_exprs, row_hash)
        obs = Observation()
        merged = merged.observe(obs, F.count(F.lit(1)).alias("n"))
        result["seq"] = _commit_next(
            store, man_seq, man, touched, data=merged, **meta
        )
        result["touched_rows"] = obs.get["n"]
        result["touched_buckets"] = touched
        return result
    finally:
        release_ckpt(upd_tagged)


def read_merged_table(
    spark,
    target_path: str,
    as_of_seq: int | None = None,
    as_of_ms: int | None = None,
):
    """Read the merged state of a merge_into target, resolved through
    its latest manifest.  Returns None when the target does not exist or
    no bucket is live (the all-deleted / never-written state); raises on
    an existing path that is not a manifest-commit target (a plain
    parquet dir is not a merge target — read it with spark.read).
    Merge targets MUST be read through this resolver (or an equivalent
    manifest-aware reader): a plain root read would see every retained
    generation at once and double-count rows.  The __bucket partition
    column is exposed; __gen is resolved away.

    ``as_of_seq`` (r12): SNAPSHOT read — resolve through the latest
    manifest with ``seq <= as_of_seq`` (Delta ``versionAsOf``; the seq
    is what ``merge_into`` returns in its metrics), turning the
    protocol's natural generation retention into time travel for
    audit/debug reads of pre-batch state.  Snapshot lifetime is bounded
    by ``vacuum_merged_table``: a vacuumed snapshot's manifest is gone
    (raises here) or its generations are gone (spark.read raises
    PATH_NOT_FOUND at scan) — both loud, never a silently-wrong state;
    ``grace_sec`` shields snapshots resolved before the vacuum the same
    way it shields latest-manifest readers.

    ``as_of_ms`` (Delta ``timestampAsOf`` analog): resolve the latest
    manifest COMMITTED at or before the given epoch-millis instant,
    via the manifest files' modification times — the commit rename is
    the manifest's last write, so mtime IS the commit instant on a
    filesystem that preserves it (caveat: an out-of-band copy/restore
    of the table resets mtimes; seq-based selection is the robust
    form).  Mutually exclusive with ``as_of_seq``.  Both forms RAISE
    beyond the newest commit (a future seq / instant), matching
    Delta's versionAsOf/timestampAsOf — never a silent clamp."""
    if as_of_ms is not None and as_of_seq is not None:
        raise ValueError(
            "read_merged_table: pass as_of_seq OR as_of_ms, not both"
        )
    who = "read_merged_table"
    if as_of_ms is not None:
        who += f": as_of_ms={as_of_ms}"
    store = _open_table(spark, target_path)
    tgt, ms = store.tgt, _list_manifests(store)
    if as_of_ms is not None and ms:
        committed = [(seq, e.mtime) for seq, _, e in ms]
        latest_ms = max(t for _, t in committed)
        if as_of_ms > latest_ms:
            raise ValueError(
                f"{who} is after the latest commit instant ({latest_ms}) of "
                f"{tgt} — like Delta timestampAsOf, an instant beyond the "
                "newest commit is an error, not the latest state; drop "
                "as_of_ms to read latest"
            )
        eligible = [seq for seq, t in committed if t <= as_of_ms]
        if not eligible:
            raise ValueError(
                f"{who}: no manifest committed at or before that instant for "
                f"{tgt} — the instant predates the table or the snapshot was "
                "vacuumed; list_snapshots() shows what is retained"
            )
        as_of_seq = max(eligible)
    man = _read_manifest(
        store, who, as_of_seq, missing_ok=as_of_seq is None and as_of_ms is None,
        ms=ms,
    )
    if man is None or not man[2]["buckets"]:
        return None
    # a listed-but-missing generation is corruption (vacuum bug /
    # tampering): spark.read raises PATH_NOT_FOUND loudly — correct.
    return _pinned_read(spark, tgt, man[2]["buckets"], man[2]["columns"])


def list_snapshots(spark, target_path: str) -> list[dict]:
    """Retained snapshots of a manifest-commit target, oldest first:
    ``[{"seq": int, "committed_ms": int}]`` — every seq here is valid
    for ``read_merged_table(..., as_of_seq=seq)`` until a vacuum
    collects it (retention = the vacuum cadence and grace the operator
    chose; the protocol itself never deletes).  Pure filesystem stats,
    no Spark job: one listing, and a read of the latest manifest.
    Raises on a path that is not a merge target."""
    store = _open_table(spark, target_path)
    ms = _list_manifests(store)
    _read_manifest(store, "list_snapshots", ms=ms)  # refuses a non-table
    return [{"seq": seq, "committed_ms": e.mtime} for seq, _, e in ms]


def read_commit_meta(
    spark, target_path: str, as_of_seq: int | None = None
) -> tuple[int, dict | None]:
    """``(seq, app_meta)`` of the latest (or as-of) committed manifest:
    the read side of ``merge_into(commit_meta=...)``.  ``app_meta`` is
    None when no commit ever carried one.  Raises on a path that is not
    a merge target, with the same seq-resolution refusals as
    :func:`read_merged_table`."""
    seq, _, m = _resolve(spark, target_path, "read_commit_meta", as_of_seq)[1]
    return seq, m.get(APP_META_KEY)


def _empty_from_pin(spark, pin: dict) -> DataFrame:
    """Zero-row frame typed from a schema pin ``{column: dtype}``."""
    return spark.range(0).select(
        *[F.lit(None).cast(t).alias(c) for c, t in pin.items()]
    )


def empty_merged_table(spark, target_path: str) -> DataFrame:
    """Zero-row frame typed from the latest schema pin of the manifest
    table at ``target_path`` (no ``__bucket``): the typed answer where
    :func:`read_merged_table` returns None for a table with no live
    bucket.  Raises when no manifest table is there."""
    man = _resolve(spark, target_path, "empty_merged_table")[1]
    return _empty_from_pin(spark, man[2]["columns"])


CHANGE_TYPE_COL = "_change_type"


def read_changes(
    spark,
    target_path: str,
    from_seq: int,
    to_seq: int | None = None,
) -> DataFrame:
    """NET change feed between two committed snapshots of a
    manifest-commit merge target — the Delta Change Data Feed /
    Iceberg incremental-read analog, derived from the protocol's
    retained generations (no per-commit change files are ever
    written).  Returns the table's columns in the TO snapshot's schema
    plus ``_change_type`` ∈ {'insert', 'update_preimage',
    'update_postimage', 'delete'}:

    - a key resolved at TO but not at FROM → one ``insert`` row
      (post-image);
    - a key resolved at FROM but not at TO → one ``delete`` row
      (pre-image — the winning tombstone removed it);
    - a key resolved at both with ANY value column differing → one
      ``update_preimage`` + one ``update_postimage`` row;
    - a key whose resolved row is identical does not appear at all.

    NET means per-KEY, not per-commit: a key touched by several
    commits in (FROM, TO] appears once, as the transition between its
    resolved states — exactly what an incremental downstream consumer
    (the point of the feed at 100 TB) needs to converge, and exactly
    what makes the reconstruction law hold:
    ``snapshot(FROM) − {delete, update_preimage keys} ∪ {insert,
    update_postimage rows} == snapshot(TO)``
    (pinned in tests/test_read_changes.py, incl. as a hypothesis
    property over random merge/evolve/maintenance interleavings).

    Both seqs use as-of resolution (latest manifest ≤ seq, the
    read_merged_table convention); a seq beyond the newest commit or
    below the vacuum horizon raises there.  ``to_seq=None`` reads the
    latest commit.  Equal resolved seqs → an EMPTY frame typed from the
    TO snapshot's schema pin.

    Scale: generation directories are immutable, so a bucket whose
    live generation is the SAME in both manifests provably holds
    identical state and is never read — the scan is O(buckets touched
    in the range), not O(table).  Pruning is a pure optimization,
    never load-bearing: a rebucket in the range (bucket spaces not
    comparable) falls back to the full live map on each side, and a
    compaction in the range (same state, fresh gen ids) just reads
    buckets that diff to zero rows.  The key-diff itself is one
    null-safe full-outer join, no driver-side row handling.

    Schema evolution in the range reads like Delta CDF: both sides
    are conformed to the TO snapshot's pin — a metadata-only added
    column reads as typed NULL on the FROM side (so an unchanged key
    does NOT appear just because the schema grew), and a widened
    column is losslessly cast up (the widen lattice guarantees
    exactness), so a pre-widen pre-image compares in the TO type.

    Reads take no lease (same as every reader); retention is the
    vacuum grace the operator chose.  Raises on a path that is not a
    merge target and on a table whose schema already carries
    ``_change_type``."""
    from functools import reduce as _reduce

    store = _open_table(spark, target_path)
    tgt, ms = store.tgt, _list_manifests(store)
    seq_a, _, m_a = _read_manifest(store, "read_changes", from_seq, ms=ms)
    seq_b, _, m_b = _read_manifest(store, "read_changes", to_seq, ms=ms)
    if seq_a > seq_b:
        raise ValueError(
            f"read_changes: from_seq resolved to {seq_a}, after to_seq's "
            f"{seq_b} — the feed runs forward; swap the bounds"
        )
    pin = m_b["columns"]
    if CHANGE_TYPE_COL in pin:
        raise ValueError(
            f"read_changes: the table schema at {tgt} already carries "
            f"the reserved output column {CHANGE_TYPE_COL!r}"
        )
    keys = list(m_b["keys"])

    # Changed-bucket pruning: same bucket space → only buckets whose
    # live generation differs; a rebucket in the range (num_buckets
    # changed) makes bucket ids incomparable → full live map per side.
    live_a, live_b = dict(m_a["buckets"]), dict(m_b["buckets"])
    if seq_a == seq_b:
        sel_a = sel_b = {}
    elif int(m_a["num_buckets"]) == int(m_b["num_buckets"]):
        changed = {
            b for b in set(live_a) | set(live_b)
            if live_a.get(b) != live_b.get(b)
        }
        sel_a = {b: live_a[b] for b in changed if b in live_a}
        sel_b = {b: live_b[b] for b in changed if b in live_b}
    else:
        sel_a, sel_b = live_a, live_b

    def _side(sel: dict, side_pin: dict):
        if not sel:
            return None
        # each side reads under its OWN manifest's pin, then projects to
        # the TO pin (r13, mixed-width reads across an evolution): a
        # column added after the FROM commit reads as a typed NULL, and
        # a FROM-side column the range widened carries the narrow type —
        # the widen lattice is lossless-only, so casting up is exact
        return _pinned_read(spark, tgt, sel, side_pin).select(*[
            (F.col(c) if c in side_pin else F.lit(None)).cast(t).alias(c)
            for c, t in pin.items()
        ])

    a_state, b_state = _side(sel_a, m_a["columns"]), _side(sel_b, pin)
    if a_state is None and b_state is None:
        return _empty_from_pin(spark, {**pin, CHANGE_TYPE_COL: "string"})
    if a_state is None:
        a_state = b_state.limit(0)
    elif b_state is None:
        b_state = a_state.limit(0)
    cols = list(pin)
    val_cols = [c for c in cols if c not in keys]

    def _tagged(df, prefix):
        v = (
            F.struct(*[F.col(c) for c in val_cols])
            if val_cols
            else F.struct(F.lit(True).alias("__all_key_row"))
        )
        return df.select(
            *[F.col(k).alias(f"__{prefix}k{i}") for i, k in enumerate(keys)],
            v.alias(f"__{prefix}v"),
            F.lit(True).alias(f"__{prefix}p"),
        )

    a_t, b_t = _tagged(a_state, "a"), _tagged(b_state, "b")
    cond = _reduce(
        Column.__and__,
        [
            a_t[f"__ak{i}"].eqNullSafe(b_t[f"__bk{i}"])
            for i in range(len(keys))
        ],
    )
    pa = F.coalesce(F.col("__ap"), F.lit(False))
    pb = F.coalesce(F.col("__bp"), F.lit(False))
    va, vb = F.col("__av"), F.col("__bv")

    def _ch(kind, v):
        return F.struct(F.lit(kind).alias("_ct"), v.alias("_v"))

    changes = (
        a_t.join(b_t, cond, "full_outer")
        # unchanged keys (the overwhelming majority even inside changed
        # buckets) drop here, before the explode doubles update rows
        .where(~(pa & pb & va.eqNullSafe(vb)))
        .select(
            *[
                F.coalesce(F.col(f"__ak{i}"), F.col(f"__bk{i}")).alias(k)
                for i, k in enumerate(keys)
            ],
            F.explode(
                F.when(~pa, F.array(_ch("insert", vb)))
                .when(~pb, F.array(_ch("delete", va)))
                .otherwise(
                    F.array(
                        _ch("update_preimage", va),
                        _ch("update_postimage", vb),
                    )
                )
            ).alias("__ch"),
        )
    )
    out_vals = ["__ch._v.*"] if val_cols else []
    return changes.select(
        *keys, *out_vals, F.col("__ch._ct").alias(CHANGE_TYPE_COL)
    ).select(*cols, CHANGE_TYPE_COL)


def lookup_merged_keys(spark, target_path: str, lookup: DataFrame) -> DataFrame:
    """POINT-LOOKUP read: the resolved rows of a merge target for the
    keys in ``lookup`` — exploiting the hash-bucketed layout so a
    k-key lookup reads O(min(k, num_buckets)) buckets instead of the
    table.  This completes the store's read cost model: writes are
    O(touched buckets), the change feed is O(changed buckets), and
    point reads are O(looked-up buckets) — at 100 TB with thousands of
    buckets, a 100-key probe touches ≤100 bucket directories.

    ``lookup`` must carry EXACTLY the layout's key columns at the
    layout's key dtypes (xxhash64 is type-sensitive — the same value
    at another type hashes into the wrong bucket; same refusal as
    merge_into's key-drift gate).  NULL keys route like merge routes
    them (the r13 NULL-routing pin).  Duplicate lookup keys read once
    (semi-join semantics).  Missing keys are simply absent from the
    result — the caller left-joins if it needs misses marked.

    Only the looked-up buckets' LIVE generations are resolved through
    the latest manifest; nothing else is listed or read.  Returns None
    when the target does not exist; raises on an existing path that is
    not a manifest-commit target.  The distinct bucket-id collect is
    bounded by num_buckets, the same bound merge_into's touched-bucket
    collect lives under.  The probe side is BROADCAST (point lookups
    are small by use-case); for a probe too big to broadcast, use
    read_merged_table + a shuffle semi-join instead — at that size
    bucket pruning stops helping anyway."""
    store, man = _resolve(spark, target_path, "lookup_merged_keys", missing_ok=True)
    if man is None:
        return None
    tgt = store.tgt
    m = man[2]
    keys, key_types = list(m["keys"]), dict(m["key_types"])
    n_buckets, pin = int(m["num_buckets"]), m["columns"]
    if list(lookup.columns) != list(keys) and sorted(
        lookup.columns
    ) != sorted(keys):
        raise ValueError(
            f"lookup_merged_keys: the layout at {tgt} keys on "
            f"{list(keys)}, the lookup frame carries "
            f"{list(lookup.columns)} — pass exactly the key columns"
        )
    lk_types = dict(lookup.dtypes)
    drift = {
        k: (key_types.get(k), lk_types.get(k))
        for k in keys
        if key_types.get(k) != lk_types.get(k)
    }
    if drift:  # xxhash64 is type-sensitive: same value, other bucket
        raise ValueError(
            f"lookup_merged_keys: key dtype drift vs the layout at "
            f"{tgt}: {drift} (layout, lookup) — the same logical key "
            "would hash into a different bucket space; cast the lookup "
            "keys back to the layout types"
        )
    tagged = lookup.select(
        *keys, bucket_expr(keys, n_buckets).alias(BUCKET_COL)
    )
    # bounded by num_buckets — the merge path's touched-collect bound
    wanted = sorted(
        r[0] for r in tagged.select(BUCKET_COL).distinct().collect()
    )
    live = m["buckets"]
    hit = {str(b): live[str(b)] for b in wanted if str(b) in live}
    if not hit:
        # no looked-up bucket is live: the result is definitionally
        # empty — type it from the pin
        return _empty_from_pin(spark, pin)
    base = _pinned_read(spark, tgt, hit, pin)
    probe = lookup.select(
        *[F.col(k).alias(f"__lk{i}") for i, k in enumerate(lookup.columns)]
    ).dropDuplicates()
    jkeys = list(lookup.columns)
    cond = None
    for i, k in enumerate(jkeys):
        c = base[k].eqNullSafe(probe[f"__lk{i}"])
        cond = c if cond is None else (cond & c)
    return base.join(F.broadcast(probe), cond, "left_semi")


# ---------------------------------------------------------------------------
# Change-feed consumers.  replicate_changes and plans/ivm.refresh_aggregate
# apply a source's net feed onto their own manifest target and keep their
# cursor (the source followed, the last source seq applied) in the
# target's app_meta under their own key, committed in the same manifest
# rename as the applied rows.  feed_cursor / feed_status read it.
# ---------------------------------------------------------------------------

REPL_META_KEY = "replicate"
IVM_META_KEY = "ivm"
SRC_SEQ_COL = "__src_seq"
DELETED_COL = "__deleted"

# app_meta key -> (the cursor's seq field, what the target holds, the
# step and the status entry points, what a target they did not build
# lacks)
_FEED_CONSUMERS = {
    REPL_META_KEY: ("last_seq", "replica", "replicate_changes", "replica_status",
                    "replication cursor in its commit metadata"),
    IVM_META_KEY: ("src_seq", "aggregate", "refresh_aggregate", "ivm_status",
                   "IVM commit metadata"),
}


def _feed_position(
    spark, who, source_path, target_path, meta_key, missing_ok
) -> tuple:
    """``(oldest, latest, dst_seq, cursor)``: the source's oldest and
    latest retained commit seqs, and the target's latest seq with the
    cursor stored under ``meta_key`` — ``(None, None)`` when no table is
    at the target and ``missing_ok``.  Refuses a source that is not a
    manifest table, a target table without that cursor (applying a feed
    onto a table the consumer did not build corrupts it), and a cursor
    that follows another source."""
    _, noun, builder, _, lacks = _FEED_CONSUMERS[meta_key]
    source = _open_table(spark, source_path)
    src, ms = source.tgt, _list_manifests(source)
    _read_manifest(source, who, ms=ms)  # refuses a source that is no table
    seqs = [seq for seq, _, _ in ms]
    store, man = _resolve(spark, target_path, who, missing_ok=missing_ok)
    tgt = store.tgt
    if man is None:
        return seqs[0], seqs[-1], None, None
    cursor = (man[2].get(APP_META_KEY) or {}).get(meta_key)
    if cursor is None:
        raise ValueError(
            f"{who}: {tgt} is a merge target but carries no {lacks} — it "
            f"was not built by {builder}; use a fresh target path"
        )
    if cursor.get("source") != src:
        raise ValueError(
            f"{who}: the {noun} at {tgt} tracks source "
            f"{cursor.get('source')!r}, not {src!r} — one {noun} follows "
            "one source; use a fresh target path"
        )
    return seqs[0], seqs[-1], man[0], cursor


def feed_cursor(spark, source_path: str, target_path: str, meta_key: str) -> tuple:
    """The cursor step of the consumer keeping its cursor under
    ``meta_key`` (``"replicate"`` or ``"ivm"``): ``(oldest, latest,
    dst_seq, cursor)`` as :func:`_feed_position` reads and checks them
    (``dst_seq`` and ``cursor`` None: bootstrap a fresh target).  Also
    refuses a cursor below the source's retained horizon: the diff base
    was vacuumed, like a Kafka offset out of range."""
    seq_field, noun, builder, _, _ = _FEED_CONSUMERS[meta_key]
    oldest, latest, dst_seq, cursor = _feed_position(
        spark, builder, source_path, target_path, meta_key, missing_ok=True
    )
    if cursor is not None and int(cursor[seq_field]) < oldest:
        raise ValueError(
            f"{builder}: the cursor's {seq_field}={cursor[seq_field]} is "
            f"below the source's retained horizon (oldest manifest seq "
            f"{oldest} at {cursor['source']}) — the diff base was vacuumed; "
            f"rebuild the {noun} into a fresh path, and run {builder} more "
            "often than the source's vacuum grace"
        )
    return oldest, latest, dst_seq, cursor


def feed_status(spark, source_path: str, target_path: str, meta_key: str) -> tuple:
    """``(cursor, status)`` of a consumer's target, read-only (no lease,
    no commit): ``status`` is ``{<cursor seq field>, "latest_src_seq",
    "lag_commits", "behind", "at_risk"}``, where ``at_risk`` reports
    what :func:`feed_cursor` would refuse — the cursor fell below the
    source's vacuum horizon."""
    seq_field, _, _, who, _ = _FEED_CONSUMERS[meta_key]
    oldest, latest, _, cursor = _feed_position(
        spark, who, source_path, target_path, meta_key, missing_ok=False
    )
    last = int(cursor[seq_field])
    return cursor, {
        seq_field: last,
        "latest_src_seq": latest,
        "lag_commits": latest - last,
        "behind": latest > last,
        "at_risk": last < oldest,
    }


def replicate_changes(
    spark,
    source_path: str,
    target_path: str,
    num_buckets: int | None = None,
) -> dict:
    """ONE incremental replication step: apply the source's net change
    feed since the persisted cursor onto a downstream manifest-commit
    REPLICA, then advance the cursor — the productionized form of the
    feed's consumer pattern (insert/update_postimage → upsert, delete
    → tombstone, the source seq as the recency column).  The replica
    never re-reads the source in full after the bootstrap; each step
    costs O(buckets touched since the cursor).

    The cursor commits ATOMICALLY with the applied changes, inside the
    replica's own manifest rename (``merge_into(commit_meta=...)``, the
    transactional-offsets pattern; read it back with
    :func:`read_commit_meta`).  This is LOAD-BEARING, not a
    convenience: the original sidecar-cursor design (cursor file
    written AFTER the merge) claimed replay-convergence from LWW
    idempotence, and hypothesis found the counterexample — sync k1,
    crash before the cursor write, source deletes k1; the NET feed
    from the stale cursor shows absent→absent = NO ROW for k1, so the
    replica keeps k1 forever.  Applying net(A→B) is only guaranteed to
    land on state(B) from state(A) or state(B); a lost cursor write
    strands the replica at some state(C), A<C<B, where net changes
    that cancel over (A,B] but not over (C,B] are silently missed.
    With the cursor inside the commit, data and cursor cannot
    diverge — a crash leaves both pre-sync or both post-sync, and the
    replay applies the feed from exactly the state it diffs against.
    Concurrent sync steps are CAS-fenced for the same reason
    (``expect_seq``): a second replicator committing a stale plan
    would regress the cursor below the replica's actual state.

    The replica carries two extra columns: ``__src_seq`` (the source
    commit the row was synced at — the LWW recency) and ``__deleted``
    (the tombstone flag the merge consumed); readers project them away.

    Refusals, all loud:
    - a cursor pointing below the source's vacuum horizon (the diff
      base is gone — like a Kafka offset out of range): re-bootstrap
      into a fresh replica path; shrinking the sync interval below the
      source's vacuum grace prevents it.
    - source schema evolution since the last step surfaces as the
      replica merge's own schema-drift refusal: evolve the REPLICA the
      same way (plans.merge.evolve_schema), then re-run the step.
    - a fresh replica against an already-vacuumed source bootstraps
      from the full resolver read instead of the feed (the feed's
      from-0 base predates the horizon).
    - an existing target that does not carry a replication cursor in
      its commit metadata was not built by replicate_changes: refused
      (blindly syncing onto a foreign table corrupts it).

    Returns {"from_seq", "to_seq", "rows_applied", "bootstrap"};
    from_seq == to_seq means no new source commits (no-op, no merge).
    """
    src, tgt = source_path.rstrip("/"), target_path.rstrip("/")
    oldest, latest, dst_seq, cursor = feed_cursor(spark, src, tgt, REPL_META_KEY)
    # a fresh replica against an already-vacuumed source cannot diff
    # from the empty init: bootstrap from the full resolver read at the
    # latest seq instead
    bootstrap = cursor is None and oldest > 0
    if cursor is not None:
        from_seq = int(cursor["last_seq"])
    else:
        from_seq = latest if bootstrap else 0

    if bootstrap:
        state = read_merged_table(spark, src, as_of_seq=latest)
        if state is None:
            batch = None  # empty source: nothing to bootstrap
        else:
            batch = (
                state.drop(BUCKET_COL)
                .withColumn(SRC_SEQ_COL, F.lit(latest).cast("bigint"))
                .withColumn(DELETED_COL, F.lit(False))
            )
    elif from_seq == latest:
        batch = None  # no new commits
    else:
        ch = read_changes(spark, src, from_seq=from_seq, to_seq=latest)
        batch = (
            ch.where(F.col(CHANGE_TYPE_COL) != "update_preimage")
            .withColumn(SRC_SEQ_COL, F.lit(latest).cast("bigint"))
            .withColumn(
                DELETED_COL, F.col(CHANGE_TYPE_COL) == F.lit("delete")
            )
            .drop(CHANGE_TYPE_COL)
        )

    rows_applied = 0
    if batch is not None:
        src_man = _resolve(spark, src, "replicate_changes")[1]
        first = dst_seq is None
        res = merge_into(
            spark, tgt, batch,
            keys=list(src_man[2]["keys"]),
            order_cols=[SRC_SEQ_COL],
            is_delete=F.col(DELETED_COL),
            num_buckets=(
                (num_buckets or int(src_man[2]["num_buckets"]))
                if first else None
            ),
            protocol="manifest" if first else None,
            # the cursor rides the SAME manifest rename as the data
            # (see crash contract above); an all-netted-out feed still
            # advances it via the metadata-only commit path
            commit_meta={REPL_META_KEY: {"source": src, "last_seq": latest}},
            expect_seq=dst_seq,
        )
        rows_applied = res.get("touched_rows") or 0
    return {
        "from_seq": from_seq, "to_seq": latest,
        "rows_applied": int(rows_applied), "bootstrap": bootstrap,
    }


def replica_status(spark, source_path: str, target_path: str) -> dict:
    """Operational snapshot of a ``replicate_changes`` target:
    ``last_seq`` (the committed cursor), ``latest_src_seq``,
    ``lag_commits`` (source commits not yet synced), ``behind``, and
    ``at_risk`` (the cursor already fell below the source's vacuum
    horizon — the NEXT sync will refuse; sync more often than the
    source's vacuum grace).  Read-only: takes no lease, commits
    nothing."""
    return feed_status(spark, source_path, target_path, REPL_META_KEY)[1]


def vacuum_merged_table(
    spark,
    target_path: str,
    grace_sec: float = 3600.0,
) -> dict:
    """GC a manifest-commit target: delete generation directories not
    referenced by the LATEST manifest, superseded manifests, and .tmp
    manifest stragglers — each only once older than ``grace_sec``, which
    shields READERS that resolved the previous manifest and are still
    scanning its generations (size it above the longest expected read;
    readers take no lease).  Writers are excluded structurally: vacuum
    holds the writer lease for its duration, so it can never collect a
    concurrent merge's staged-but-uncommitted generations — without the
    lease, grace_sec=0 could delete a generation between its staging
    rename and its manifest commit.  Returns {"gens_deleted",
    "manifests_deleted"}.  Raises on a path that is not a merge
    target."""
    import time as _time

    with _writer_lease(spark, target_path, "vacuum_merged_table") as (
        store, (seq, latest_name, m),
    ):
        tgt = store.tgt
        live = {
            (f"{BUCKET_COL}={b}", f"{GEN_COL}={g}")
            for b, g in m["buckets"].items()
        }
        cutoff_ms = (_time.time() - grace_sec) * 1000.0
        gens_deleted = manifests_deleted = 0
        for bucket in store.list(tgt):
            bname, bdir = bucket.name, f"{tgt}/{bucket.name}"
            if not bname.startswith(BUCKET_COL + "="):
                continue
            for g in store.list(bdir):
                if (bname, g.name) in live or not g.name.startswith(GEN_COL + "="):
                    continue  # live, or a foreign entry we refuse to touch
                if g.mtime <= cutoff_ms:
                    store.delete(f"{bdir}/{g.name}")
                    gens_deleted += 1
            # an empty bucket dir with no live generation left is clutter
            if bname.split("=", 1)[1] not in m["buckets"] and not store.list(bdir):
                store.delete(bdir)
        mdir = _manifest_dir(tgt)
        for e in store.list(mdir):
            e_seq = _manifest_seq(e.name)
            stale_commit = (
                e.name != latest_name and e_seq is not None and e_seq < seq
            )
            stale_tmp = e.name.startswith(".tmp-")
            if (stale_commit or stale_tmp) and e.mtime <= cutoff_ms:
                store.delete(f"{mdir}/{e.name}")
                manifests_deleted += 1
        return {
            "gens_deleted": gens_deleted,
            "manifests_deleted": manifests_deleted,
        }


def maintain_merged_table(
    spark,
    target_path: str,
    target_bucket_bytes: int = 256 * 1024 * 1024,
    target_file_bytes: int = 128 * 1024 * 1024,
    grace_sec: float = 3600.0,
) -> dict:
    """ONE maintenance-window entry point for a manifest merge target
    (r13): run the detect→migrate rebucket composition
    (:func:`maybe_rebucket`), then within-generation compaction
    (:func:`compact_merged_table`), then GC
    (:func:`vacuum_merged_table`) — the order matters: a rebucket
    rewrites every generation (so compacting first would be wasted
    work), compaction stages what vacuum then trims the strands of.
    Each step takes the writer lease itself, so a concurrent merge
    refuses each phase individually rather than blocking for the whole
    window; when the layout fits and the files are sized, the whole
    call costs a few filesystem listings and no Spark job.  Returns
    ``{"rebucket": ..., "compact": ..., "vacuum": ...}`` (the three
    steps' own result dicts)."""
    _resolve(spark, target_path, "maintain_merged_table")  # refuse as this entry point
    return {
        "rebucket": maybe_rebucket(spark, target_path, target_bucket_bytes),
        "compact": compact_merged_table(spark, target_path, target_file_bytes),
        "vacuum": vacuum_merged_table(spark, target_path, grace_sec),
    }


def compact_merged_table(
    spark,
    target_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Within-generation compaction for the MANIFEST flavor (r12
    verdict #4): a touched bucket's generation inherits the writing
    batch's parallelism — on a wide cluster a kilobyte-sized bucket can
    land as dozens of small part files, and the per-batch
    O(touched-bucket bytes) read cost gains a per-FILE constant (open +
    footer) that eventually dominates.  This op rewrites every live
    generation whose data-file count exceeds
    ``max(1, ceil(bytes / target_file_bytes))`` down to that count
    (``coalesce`` — a file merge, no shuffle) as a fresh generation,
    then flips ALL compacted buckets in ONE manifest commit — the same
    atomic crash contract as a merge: pre-compaction until the rename
    lands, post- after; a crash strands only unreferenced generations
    (vacuum fodder).  State is unchanged by construction (pinned read →
    coalesce → write; a column a metadata-only add left out of the old
    files is written as the NULLs it already read as).  Holds the
    writer lease, so a concurrent merge and a compaction refuse each
    other.

    One small Spark job per fat bucket (bounded by the touched set —
    this is a maintenance-window op like vacuum/rebucket; run it on the
    same cadence).  Raises on a path that is not a merge target.

    Returns ``{"engine", "seq", "compacted_buckets", "files_before",
    "files_after"}`` (seq unchanged and empty list when every
    generation already fits)."""
    import math

    prefix = BUCKET_COL + "="

    def _data_files(path):
        return [
            e.length for e in store.list(path) if not e.name.startswith(("_", "."))
        ]

    with _writer_lease(spark, target_path, "compact_merged_table") as (
        store, (seq, _, m),
    ):
        tgt = store.tgt
        tmp = _tmp_dir(tgt)
        todo = []  # (bucket, n_target)
        files_before = files_after = 0
        for b, g in sorted(m["buckets"].items(), key=lambda kv: int(kv[0])):
            sizes = _data_files(f"{tgt}/{prefix}{b}/{GEN_COL}={g}")
            n_target = max(1, math.ceil(sum(sizes) / float(target_file_bytes)))
            files_before += len(sizes)
            if len(sizes) > n_target:
                todo.append((b, n_target))
            else:
                files_after += len(sizes)
        if not todo:
            return {
                "engine": "parquet-manifest", "seq": seq,
                "compacted_buckets": [], "files_before": files_before,
                "files_after": files_before,
            }
        store.delete(tmp)
        for b, n_target in todo:
            staged = f"{tmp}/{prefix}{b}"
            store.write_parquet(
                _pinned_read(spark, tgt, {b: m["buckets"][b]}, m["columns"])
                .drop(BUCKET_COL).coalesce(n_target),
                staged,
            )
            files_after += len(_data_files(staged))
        seq = _commit_next(store, seq, m, [b for b, _ in todo])
        return {
            "engine": "parquet-manifest", "seq": seq,
            "compacted_buckets": [b for b, _ in todo],
            "files_before": files_before, "files_after": files_after,
        }


def rebucket(
    spark,
    target_path: str,
    new_num_buckets: int,
) -> dict:
    """Re-layout a merge_into target to a NEW bucket count (r11 verdict
    #3): a table laid out at N buckets that grows 100x keeps N
    ever-fatter buckets, eroding the O(touched/N) per-batch advantage —
    this is the migration path.  One deliberate full-cost pass: read
    all live state, re-hash every key into the new bucket space, and
    commit it as a fresh all-bucket generation in one manifest commit
    (an empty table moves by a metadata-only commit).  Holds the writer
    lease for the duration, so a mid-flight merge and a rebucket refuse
    each other.  Merged STATE is unchanged by construction (pinned by
    tests and the gate query); only the layout and the pinned
    num_buckets move.  Old generations become vacuum fodder, and
    pre-rebucket snapshots stay readable until vacuumed."""
    from pyspark.sql import Observation

    if new_num_buckets < 1:
        raise ValueError(
            f"rebucket: new_num_buckets must be >= 1, got {new_num_buckets}"
        )
    with _writer_lease(spark, target_path, "rebucket") as (store, (seq, _, m)):
        layout = {"num_buckets": int(new_num_buckets)}
        if not m["buckets"]:  # empty table: the layout move is pure metadata
            # the commit carries the schema pin (r14: the read_changes
            # lifecycle property caught an earlier form DROPPING it —
            # losing the pin silently disarms _check_schema_pin for
            # every later batch and un-types empty reads)
            seq = _commit_next(store, seq, m, [], **layout)
            return {"engine": "parquet-manifest", "rows": 0,
                    "num_buckets": new_num_buckets, "seq": seq}
        cur = _pinned_read(spark, store.tgt, m["buckets"], m["columns"]).drop(
            BUCKET_COL
        )
        rehashed = cur.withColumn(
            BUCKET_COL, bucket_expr(list(m["keys"]), new_num_buckets)
        )
        obs = Observation()
        rehashed = rehashed.observe(obs, F.count(F.lit(1)).alias("n"))
        seq = _commit_next(store, seq, m, None, data=rehashed, **layout)
        return {"engine": "parquet-manifest", "rows": obs.get["n"],
                "num_buckets": new_num_buckets, "seq": seq}


_INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}
_INT_ORDER = ["tinyint", "smallint", "int", "bigint"]


def _is_widening(src: str, dst: str) -> bool:
    """True when every value of Spark dtype ``src`` is exactly
    representable in dtype ``dst`` (the only type changes evolve_schema
    permits).  Deliberately conservative: bigint→double is REFUSED
    (doubles hold 53 mantissa bits, longs 63 — values above 2^53
    silently round), as is float→decimal (binary fractions have no
    exact decimal form at fixed scale)."""
    import re

    if src in _INT_ORDER and dst in _INT_ORDER:
        return _INT_ORDER.index(dst) > _INT_ORDER.index(src)
    if dst == "double" and src in ("float", "tinyint", "smallint", "int"):
        return True  # 53-bit mantissa holds every float/int32 exactly
    d_src = re.fullmatch(r"decimal\((\d+),(\d+)\)", src)
    d_dst = re.fullmatch(r"decimal\((\d+),(\d+)\)", dst)
    if d_dst:
        p2, s2 = int(d_dst.group(1)), int(d_dst.group(2))
        if d_src:
            p1, s1 = int(d_src.group(1)), int(d_src.group(2))
            return s2 >= s1 and p2 - s2 >= p1 - s1 and (p1, s1) != (p2, s2)
        if src in _INT_DIGITS:
            return p2 - s2 >= _INT_DIGITS[src]
    return False


def _validate_evolution(target_path, pinned, keys, add, widen) -> None:
    """Shared refusal set for evolve_schema: only additive NULL-backed
    columns and provably-lossless type widenings pass; everything else
    (narrowing, renames, drops, key-type changes) is a rebuild."""
    dup = sorted(set(add) & set(pinned))
    if dup:
        raise ValueError(
            f"evolve_schema: add columns {dup} already exist at "
            f"{target_path} — renames are not supported (a rename is a "
            "drop + add, and drops destroy data); rebuild into a new target"
        )
    bad = {BUCKET_COL, GEN_COL, "__del", "__tgt_pri", "__rk"} & set(add)
    if bad:
        raise ValueError(
            f"evolve_schema: add names {sorted(bad)} collide with reserved "
            "merge-protocol columns"
        )
    missing = sorted(set(widen) - set(pinned))
    if missing:
        raise ValueError(
            f"evolve_schema: widen columns {missing} do not exist at "
            f"{target_path} (stored columns: {sorted(pinned)})"
        )
    if keys:
        key_w = sorted(set(widen) & set(keys))
        if key_w:
            raise ValueError(
                f"evolve_schema: cannot widen key columns {key_w} — "
                "xxhash64 hashes the TYPED value, so a key-type change "
                "re-routes every existing key into a different bucket "
                "space; rebuild the table under the new key types"
            )
    for c, new_t in widen.items():
        old_t = pinned[c]
        if new_t == old_t:
            raise ValueError(
                f"evolve_schema: column {c!r} is already {old_t} at "
                f"{target_path}"
            )
        if not _is_widening(old_t, new_t):
            raise ValueError(
                f"evolve_schema: {c!r} {old_t} -> {new_t} is not a "
                "lossless widening (narrowing and lossy casts are "
                "refused — rebuild into a new target if you really mean "
                f"it); permitted: int-ladder up-casts, float->double, "
                "int->double (int32 and below), decimal scale/precision "
                "growth, int->decimal with enough integer digits"
            )


def _evolved_pin(pinned: dict, add: dict, widen: dict) -> dict:
    """New schema pin: widened types replace in place (column order is
    part of the pin), added columns append in the caller's order."""
    return {**{c: widen.get(c, t) for c, t in pinned.items()}, **add}


def _evolve_transform(cur, pinned: dict, add: dict, widen: dict):
    """The rewrite-pass projection: widen casts in pin order, adds as
    typed NULLs, the __bucket partition column (when present) rides
    last unchanged."""
    cols = [
        F.col(c).cast(widen[c]).alias(c) if c in widen else F.col(c)
        for c in pinned
    ]
    cols += [F.lit(None).cast(t).alias(c) for c, t in add.items()]
    extras = [F.col(c) for c in cur.columns if c not in pinned and c not in add]
    return cur.select(*cols, *extras)


def evolve_schema(
    spark,
    target_path: str,
    add: dict | None = None,
    widen: dict | None = None,
    rename: dict | None = None,
) -> dict:
    """Explicit schema evolution for a merge_into target (r12 verdict
    #1 — the operation the schema-pin drift refusal points at).  Two
    primitives, the only two that are always safe:

    - ``add={col: dtype}`` — append NULL-backed columns.
      METADATA-ONLY: one manifest commit updates the pinned
      ``columns``; no data file is touched, and every reader/merger
      conforms older generations to the pin (missing column -> typed
      NULL).
    - ``widen={col: dtype}`` — lossless type widening (see
      :func:`_is_widening`).  Key columns are refused — xxhash64 is
      type-sensitive and a key-type change would re-route every
      bucket.  A full-cost rewrite pass (rebucket-style): a fresh
      all-bucket generation + one manifest commit.

    Either way the table reads as exactly pre- or post-evolve at every
    crash point (the commit is the manifest rename).

    Narrowing, renames, and drops are refused — they destroy data;
    rebuild into a new target if that is really the intent.

    CONTRACT AFTER AN ADD: the pin is exact-schema, so every subsequent
    batch must CARRY the added column (NULL-valued where absent).
    Accepting pin-subset batches instead would blunt drift detection —
    a batch that accidentally dropped a column would silently merge
    NULLs over stored data.

    Holds the writer lease for the duration (a concurrent merge and an
    evolution refuse each other).

    Returns ``{"engine", "added", "widened", "rewritten", "seq"}``,
    plus ``rows`` when a rewrite ran.

    Reference semantics anchor: the reference validates ENVELOPE
    shapes at runtime (``src/lens/broker.clj:28-51``) and delegates
    entity-schema change to its store — exactly the operation this op
    supplies for the portable store.
    """
    from pyspark.sql import Observation

    if rename:
        # refused WITH the migration recipe (r13 NOTES candidate #4):
        # a rename is a drop + add, and drops destroy data — but the
        # lossless equivalent is expressible with the two supported
        # primitives plus one LWW pass, so spell it out
        recipe = "; ".join(
            f"evolve_schema(add={{{new!r}: <dtype of {old!r}>}}), then one "
            f"merge_into pass carrying {new!r} = {old!r} for every stored "
            f"key (a backfill copy), then rebuild into a new target "
            f"without {old!r} when the old column must actually go"
            for old, new in dict(rename).items()
        )
        raise ValueError(
            "evolve_schema: rename is not supported — it is a drop + add "
            "and drops destroy data.  Lossless recipe per column: " + recipe
        )
    add = dict(add or {})
    widen = dict(widen or {})
    if not add and not widen:
        raise ValueError("evolve_schema: pass at least one of add=, widen=")
    both = sorted(set(add) & set(widen))
    if both:
        raise ValueError(
            f"evolve_schema: columns {both} appear in both add and widen"
        )
    # Validate + CANONICALIZE every dtype string up front (r13
    # self-review): the metadata-only paths pin the string verbatim
    # without ever constructing the type, so a typo'd dtype would pin
    # silently, refuse every later batch as drifted, and crash only at
    # the conform-read's cast; a case-variant ('String',
    # 'DECIMAL(12,2)') would poison the pin's string-equality checks.
    # simpleString() is exactly the form DataFrame.dtypes emits, so the
    # canonical pin compares clean against batch dtypes.
    from pyspark.sql.types import _parse_datatype_string

    for which in (add, widen):
        for c, t in list(which.items()):
            try:
                which[c] = _parse_datatype_string(t).simpleString()
            except Exception as e:
                raise ValueError(
                    f"evolve_schema: invalid Spark dtype {t!r} for column "
                    f"{c!r} ({type(e).__name__}) — use DataFrame.dtypes "
                    "spellings, e.g. 'string', 'bigint', 'decimal(12,2)'"
                ) from e

    with _writer_lease(spark, target_path, "evolve_schema") as (
        store, (man_seq, _, m),
    ):
        tgt = store.tgt
        live = m["buckets"]
        pinned = m["columns"]
        _validate_evolution(tgt, pinned, list(m["keys"]), add, widen)
        new_pin = {"columns": _evolved_pin(pinned, add, widen)}
        out = {
            "engine": "parquet-manifest", "added": sorted(add),
            "widened": dict(widen), "rewritten": False,
        }
        if not widen or not live:
            # metadata-only: ONE atomic manifest commit (live
            # generations untouched; readers conform to the pin)
            out["seq"] = _commit_next(store, man_seq, m, [], **new_pin)
            return out
        # widen: full rewrite — fresh generation for every live
        # bucket, then one commit (rebucket's protocol, same N)
        cur = _pinned_read(spark, tgt, live, pinned)
        obs = Observation()
        data = _evolve_transform(cur, pinned, add, widen).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
        out["seq"] = _commit_next(store, man_seq, m, None, data=data, **new_pin)
        out.update(rewritten=True, rows=obs.get["n"])
        return out


def suggest_num_buckets(
    spark,
    target_path: str,
    target_bucket_bytes: int = 256 * 1024 * 1024,
) -> dict:
    """Rebucket advisor (r12, completing the migration story): report
    whether a merge target's layout still fits its size.  The
    O(touched/N) per-batch advantage decays as buckets fatten — a table
    laid out at N=16 that grew 100x rewrites ~6% of a now-huge table
    per touched bucket.  Pure filesystem stats (no Spark job): sums the
    LIVE data bytes (the manifest-resolved generations — superseded
    ones do not count), divides by ``target_bucket_bytes`` (default
    256 MB — a few parquet row groups; size to taste), rounds to the
    nearest power of two, and recommends a rebucket only past 2x
    hysteresis in either direction (re-layouts are full-cost; don't
    thrash).  Returns {"num_buckets", "live_bytes", "suggested",
    "rebucket_recommended"}; raises on a path that is not a merge
    target.

    Scheduling the migration stays with the caller (run
    :func:`rebucket` in a maintenance window — it takes the writer
    lease, so in-flight merges and the migration refuse each other).
    """
    store, (_, _, m) = _resolve(spark, target_path, "suggest_num_buckets")
    cur_n = int(m["num_buckets"])
    # a generation dir holds its part files flat: one listing each
    live = sum(
        e.length
        for p in _gen_paths(store.tgt, m["buckets"])
        for e in store.list(p)
        if not e.is_dir
    )
    raw = max(1.0, live / float(target_bucket_bytes))
    suggested = 1 << max(0, round(__import__("math").log2(raw)))
    return {
        "num_buckets": cur_n,
        "live_bytes": live,
        "suggested": suggested,
        "rebucket_recommended": suggested >= 2 * cur_n or 2 * suggested <= cur_n,
    }


def maybe_rebucket(
    spark,
    target_path: str,
    target_bucket_bytes: int = 256 * 1024 * 1024,
) -> dict:
    """The detect→migrate composition (r12): run the advisor and, ONLY
    if it recommends (2x hysteresis in either direction), execute the
    :func:`rebucket` migration to the suggested power-of-two count.
    Idempotent maintenance entry point — call it from the same window
    that runs :func:`vacuum_merged_table`; when the layout still fits
    it costs two filesystem listings and no Spark job.  Returns the
    advisor dict plus ``{"rebucketed": bool}`` (and the migration's
    metrics under ``"migration"`` when one ran).  The migration takes
    the writer lease, so a concurrent merge and this refuse each other
    rather than interleave."""
    _resolve(spark, target_path, "maybe_rebucket")  # refuse as this entry point
    advice = suggest_num_buckets(spark, target_path, target_bucket_bytes)
    if not advice["rebucket_recommended"]:
        return {**advice, "rebucketed": False}
    migration = rebucket(spark, target_path, advice["suggested"])
    return {**advice, "rebucketed": True, "migration": migration}
