"""Per-partition checkpoint + lineage so a killed run resumes without
recomputation (north rule; no reference counterpart — the reference re-runs
a killed ingest from scratch, its only idempotence being timestamp-named
files, /root/reference/pkg/storage/parquet/parquet.go:86-89).

Design:
- Output is hash-bucketed by entity (``p_bucket``); the manifest
  (``_manifest.json`` next to the data) records per-bucket status,
  row_count, a 64-bit content hash, the name of the row hash that
  produced it (``row_hash``), and lineage (input fingerprint + pipeline
  params).
- The row hash (:data:`ROW_HASH`) is Spark's ``xxhash64`` over the row's
  TYPED values, every column in schema order except ``p_bucket``.  A
  column whose type contains a map or variant at any depth is hashed
  through its string rendering (``xxhash64`` rejects those types).  Null
  values are skipped (they leave the running hash unchanged).  A bucket's
  content hash is the xor of its row hashes, so it does not depend on
  row order.  Byte, short and int values hash identically, so a format
  that widens small ints on write (Iceberg) reads back the same hash.
- A resumed run recomputes ONLY buckets not marked done: the pipeline
  filters its input to pending buckets *before* any heavy work (the bucket
  is a pure function of conv_id, so filtering pushes to the scan), then
  dynamic-partition-overwrite writes exactly those buckets — completed
  partitions are never touched or recomputed.
- Each bucket is written as ONE file: the output is repartitioned on
  ``p_bucket`` and sorted by (entity, ``turn_idx`` or ``ts``) within each
  partition before the write.  A hot entity's bucket is therefore sorted
  and written by one task; bucket count, not entity skew, sets write
  parallelism.
- One driver-side JSON per run; everything per-row stays distributed.
- If the lineage fingerprint changes (different input or params), the
  manifest is discarded and the run starts clean — resume must never serve
  stale features.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType, VariantType

MANIFEST = "_manifest.json"

#: Name of the row hash behind each bucket's ``content_hash``, recorded
#: per bucket by :meth:`CheckpointManifest.mark_done`.  Entries written
#: before the tag existed carry none (their hash was over string casts).
ROW_HASH = "xxhash64-typed"


def bucket_col(entity_col: str = "conv_id", n_buckets: int = 64):
    return F.pmod(F.xxhash64(F.col(entity_col)), F.lit(n_buckets)).cast("int")


def _unhashable(dt: DataType) -> bool:
    """True iff ``dt`` contains a map or variant at any nesting depth."""
    if isinstance(dt, (MapType, VariantType)):
        return True
    if isinstance(dt, ArrayType):
        return _unhashable(dt.elementType)
    if isinstance(dt, StructType):
        return any(_unhashable(f.dataType) for f in dt.fields)
    return False


def _row_hash(df: DataFrame, bucket: str = "p_bucket") -> Column:
    """The :data:`ROW_HASH` expression: ``xxhash64`` over the typed values
    of every column but ``bucket``, in schema order; map/variant-bearing
    columns go through ``cast("string")``; nulls are skipped."""
    return F.xxhash64(*[
        F.col(f.name).cast("string") if _unhashable(f.dataType) else F.col(f.name)
        for f in df.schema.fields
        if f.name != bucket
    ])


def content_stats(df: DataFrame, bucket: str = "p_bucket") -> dict[int, dict]:
    """Per-bucket row_count + content hash: the xor of :func:`_row_hash`
    (typed ``xxhash64`` of every column but ``bucket``, in schema order;
    map/variant columns via their string rendering; nulls skipped)."""
    agg = df.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.bit_xor(_row_hash(df, bucket)).alias("content_hash"),
    )
    return {
        int(r[bucket]): {"row_count": int(r["row_count"]), "content_hash": int(r["content_hash"])}
        for r in agg.collect()
    }


class CheckpointManifest:
    def __init__(self, output_path: str, lineage: dict):
        self.path = os.path.join(output_path, MANIFEST)
        self.lineage = lineage
        self.state: dict = {"lineage": lineage, "buckets": {}}
        # True when a prior manifest exists with DIFFERENT lineage: the
        # caller must also clear the prior DATA (see clear_stale_output) —
        # dynamic overwrite only replaces buckets present in the new run,
        # so a bucket the new input doesn't populate would keep stale rows.
        self.lineage_changed = False
        if os.path.exists(self.path):
            with open(self.path) as fh:
                prior = json.load(fh)
            if prior.get("lineage") == lineage:
                self.state = prior
            else:
                self.lineage_changed = True

    def done_buckets(self) -> set[int]:
        return {int(b) for b, m in self.state["buckets"].items() if m.get("status") == "done"}

    def mark_done(self, stats: dict[int, dict]) -> None:
        for b, s in stats.items():
            self.state["buckets"][str(b)] = {
                "status": "done",
                "row_count": s["row_count"],
                "content_hash": s["content_hash"],
                "row_hash": ROW_HASH,
                "completed_at": time.time(),
            }
        self._flush()

    def get_stat(self, name: str):
        """Lineage-scoped cached statistic (e.g. the auto-sized as-of
        bucket width): survives resume, discarded with the manifest on any
        lineage change — a stat can never outlive the input it was
        measured on."""
        return self.state.get("stats", {}).get(name)

    def set_stat(self, name: str, value) -> None:
        self.state.setdefault("stats", {})[name] = value
        self._flush()

    def metrics(self) -> dict:
        done = self.state["buckets"]
        return {
            "n_buckets_done": len(done),
            "total_rows": sum(m["row_count"] for m in done.values()),
        }

    def _flush(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.state, fh, indent=2)
        os.replace(tmp, self.path)


#: Entries a checkpointed output directory may legitimately contain.
#: Anything else means the path is NOT tool-owned and must not be deleted.
#: Deliberately NOT here (ADVICE r3): bare "." (a home dir full of dotfiles
#: must never pass) and bare "part-" (top-level part files are some OTHER
#: tool's generic Spark output — this engine always writes under p_bucket=).
_OWNED_ENTRY_PREFIXES = (
    "p_bucket=", "_manifest.json", "_SUCCESS", "._SUCCESS", "_temporary",
)


def _looks_tool_owned(output_path: str) -> bool:
    """True iff ``output_path`` is a directory this engine wrote: it must
    carry a POSITIVE marker (a ``_manifest.json`` or at least one
    ``p_bucket=*`` partition) and contain nothing outside the allowlist.
    An empty dir is owned (nothing to lose).  The positive-marker
    requirement means a directory of dotfiles, or another tool's generic
    ``part-* + _SUCCESS`` Spark output, can never be rmtree'd here."""
    try:
        entries = os.listdir(output_path)
    except FileNotFoundError:
        return True
    if not entries:
        return True
    # a crashed FIRST run leaves only Spark write machinery (_temporary/,
    # possibly _SUCCESS + its .crc) — no data, nothing to lose, clearable;
    # the positive-marker rule below applies once any data/manifest exists
    machinery = ("_temporary", "_SUCCESS", "._SUCCESS")
    if all(e.startswith(machinery) for e in entries):
        return True
    has_marker = any(
        e == MANIFEST or e.startswith(("p_bucket=", MANIFEST + ".tmp")) for e in entries
    )
    return has_marker and all(e.startswith(_OWNED_ENTRY_PREFIXES) for e in entries)


def clear_manifest_dir(manifest_dir: str) -> None:
    """Delete a driver-side manifest directory (the Iceberg-mode sidecar)
    with the same ownership discipline as :func:`clear_stale_output`: only
    an empty dir or one containing nothing but the manifest (+ its tmp
    file) may be removed — a typo'd or shared ``--manifest-dir`` errors
    out instead of being wholesale rmtree'd (ADVICE r3)."""
    if not os.path.isdir(manifest_dir):
        return
    strays = [e for e in os.listdir(manifest_dir) if not e.startswith(MANIFEST)]
    if strays:
        raise ValueError(
            f"refusing to clear manifest dir {manifest_dir!r}: it contains "
            f"entries this engine did not write ({strays[:5]}). Pass a "
            "dedicated manifest directory."
        )
    shutil.rmtree(manifest_dir)


def clear_stale_output(output_path: str) -> None:
    """Remove every prior data partition under ``output_path`` (manifest
    included).  Required on lineage change and on non-resume clean runs:
    dynamic overwrite replaces only buckets present in the NEW run, so a
    bucket the new input doesn't populate would silently keep rows from
    the previous lineage — exactly the stale-feature serving this module
    exists to prevent.

    SAFETY: refuses to delete a directory that contains anything this
    engine did not write (no ``_manifest.json`` / ``p_bucket=*`` layout) —
    a typo'd or shared ``--output`` must error out, never be wholesale
    rmtree'd.  Driver-side local-FS delete (shutil); an object-store/HDFS
    deployment swaps in the corresponding FS client, still O(partitions),
    no data movement."""
    if not os.path.isdir(output_path):
        return
    if not _looks_tool_owned(output_path):
        raise ValueError(
            f"refusing to clear {output_path!r}: directory contains entries this "
            "engine did not write (expected only p_bucket=*/ partitions and a "
            "_manifest.json). Pass a dedicated output directory."
        )
    shutil.rmtree(output_path)


#: Max conditional aggregate expressions per observe() node.  Unbounded,
#: SURVEY §9's n_buckets=4096 would put 8k when()-comparisons per written
#: row into ONE very wide codegen'd aggregate (VERDICT r3 #3); chunking
#: keeps each CollectMetrics node narrow while still riding the write job.
_OBSERVE_CHUNK_EXPRS = 128


def _observed_bucket_stats(out: DataFrame, pending: list[int], bucket: str = "p_bucket"):
    """(observed DataFrame, [Observations]) computing per-pending-bucket
    row_count + xor content hash IN THE WRITE JOB — no post-write scan.

    One conditional pair per pending bucket, chunked ≤128 expressions per
    ``observe()`` node (64 buckets each): a few hundred cheap comparisons
    per row riding the write stage, vs. a full second read of the output
    (the round-2 anti-pattern), and no single pathologically wide
    aggregate at large ``n_buckets``.

    The row hash is :func:`_row_hash`, the one :func:`content_stats`
    folds, so ``verify=True`` read-back audits compare exactly: typed
    ``xxhash64`` of every column but ``bucket`` in schema order,
    map/variant columns via their string rendering, nulls skipped,
    xor-folded per bucket.  It is projected once per row as a column
    ahead of the observe nodes (each node only compares ``bucket`` and
    folds a long) and dropped after them, so the written rows are
    unchanged."""
    from pyspark.sql import Observation

    out = out.withColumn("__row_hash", _row_hash(out, bucket))
    row_hash = F.col("__row_hash")
    per_chunk = _OBSERVE_CHUNK_EXPRS // 2
    observations = []
    for ci in range(0, len(pending), per_chunk):
        chunk = pending[ci : ci + per_chunk]
        exprs = []
        for b in chunk:
            hit = F.col(bucket) == F.lit(b)
            exprs.append(F.count(F.when(hit, F.lit(1))).alias(f"rc_{b}"))
            exprs.append(F.bit_xor(F.when(hit, row_hash)).alias(f"hash_{b}"))
        obs = Observation(f"checkpoint_bucket_stats_{ci}")
        out = out.observe(obs, *exprs)
        observations.append(obs)
    return out.drop("__row_hash"), observations


def run_with_checkpoint(
    transcripts: DataFrame,
    output_path: str,
    lineage: dict,
    n_buckets: int = 16,
    entity_col: str = "conv_id",
    pipeline=None,
    spine: DataFrame | None = None,
    verify: bool = False,
    output_format: str | None = None,
    manifest_dir: str | None = None,
) -> dict:
    """Materialize ``pipeline(transcripts)`` (or, with ``spine``,
    ``pipeline(transcripts, spine)`` — default: point-in-time vectors at
    every spine row) to ``output_path`` partitioned by entity bucket,
    skipping buckets the manifest already marks done.

    Returns manifest metrics.  Killing this anywhere and re-calling
    resumes: finished buckets are filtered out of BOTH inputs before any
    heavy work (the bucket is a pure function of the entity key, so the
    filter reaches both scans) and dynamic partition overwrite replaces
    only freshly computed buckets.

    Safety invariants (each has a test in tests/test_checkpoint.py):
    - overwrite mode is set on the WRITER, so resume is partition-scoped
      even on a SparkSession without partitionOverwriteMode=dynamic;
    - a lineage change clears prior data, not just the manifest — no
      bucket can survive from an older input/params combination;
    - with a spine, BOTH sides are bucket-filtered: an unfiltered spine
      would emit all-null feature rows into buckets whose transcripts
      were pruned, silently overwriting completed partitions.

    Commit metrics (row_count + content hash per bucket) ride the WRITE
    job via ``observe()`` — the output is scanned zero extra times.
    ``verify=True`` additionally reads the written partitions back and
    cross-checks them against the observed stats (audit mode; at scale
    this is a full second scan of the output, opt-in only).

    ``output_format``: 'parquet' (``output_path`` is a directory) or
    'iceberg' (``output_path`` is a table identifier — native
    ``overwritePartitions`` snapshot commits; pass ``manifest_dir`` for
    the driver-side manifest, which cannot live inside a table).
    """
    from featherstore_spark.plans.materialize import build_feature_log, materialize
    from featherstore_spark.sources.io import table_format, write_partitioned

    spark = transcripts.sparkSession
    fmt = output_format or table_format(spark)
    if fmt == "iceberg" and manifest_dir is None:
        raise ValueError("iceberg output needs manifest_dir (a table has no directory for _manifest.json)")

    if pipeline is None:
        pipeline = build_feature_log if spine is None else materialize
    manifest = CheckpointManifest(manifest_dir or output_path, lineage)
    if manifest.lineage_changed:
        if fmt == "iceberg":
            spark.sql(f"DROP TABLE IF EXISTS {output_path}")
            clear_manifest_dir(manifest_dir)
            manifest = CheckpointManifest(manifest_dir, lineage)
        else:
            clear_stale_output(output_path)
    done = manifest.done_buckets()
    if len(done) == n_buckets:  # driver-side short-circuit, no job at all
        return manifest.metrics()
    pending = [x for x in range(n_buckets) if x not in done]

    b = bucket_col(entity_col, n_buckets)
    pending_input = transcripts.withColumn("p_bucket", b)
    if done:
        pending_input = pending_input.where(~F.col("p_bucket").isin(sorted(done)))

    if spine is None:
        result = pipeline(pending_input.drop("p_bucket"))
    else:
        pending_spine = spine.withColumn("p_bucket", b)
        if done:
            pending_spine = pending_spine.where(~F.col("p_bucket").isin(sorted(done)))
        result = pipeline(pending_input.drop("p_bucket"), pending_spine.drop("p_bucket"))

    # One shuffle on p_bucket puts every bucket in exactly one task, so
    # each bucket is written as ONE file whatever partitioning the
    # pipeline left behind (each extra parquet file costs ~5 KB of
    # footer/metadata).
    out = result.withColumn("p_bucket", b).repartition("p_bucket")
    sort_key = "turn_idx" if "turn_idx" in out.columns else "ts"
    out = out.sortWithinPartitions(entity_col, sort_key) if sort_key in out.columns else out
    out, obs_list = _observed_bucket_stats(out, pending)
    write_partitioned(out, output_path, ("p_bucket",), fmt=fmt)

    observed: dict = {}
    for obs in obs_list:
        observed.update(obs.get)
    stats = {
        b: {"row_count": int(observed[f"rc_{b}"]), "content_hash": int(observed[f"hash_{b}"])}
        for b in pending
        if observed[f"rc_{b}"] > 0  # a bucket with no output rows stays pending
    }

    if verify:  # opt-in audit: full read-back must reproduce the observed stats
        written = (
            spark.read.table(output_path) if fmt == "iceberg" else spark.read.parquet(output_path)
        ).where(~F.col("p_bucket").isin(sorted(done)) if done else F.lit(True))
        readback = content_stats(written)
        if readback != stats:
            raise RuntimeError(
                f"checkpoint verify failed for {output_path!r}: "
                f"observed={stats} read-back={readback}"
            )

    manifest.mark_done(stats)
    return manifest.metrics()
