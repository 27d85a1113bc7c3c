"""Streaming ANN index maintenance (beyond-reference — the write path of
the similarity-search story at 100 TB).

The offline ANN family (operators/vectors.py) builds its IVF index in
one pass: `_ivf_assign_cells` assigns every vector to its nearest
coarse-quantizer cell map-side. At production scale the catalog is not
static — new items (documents, movies, users' uploads) arrive
continuously, and re-running the full assignment over a 100 TB corpus
per arrival batch is the same wrong shape as the ALS full retrain the
fold-in family replaces (ml/foldin.py). The production answer is
INCREMENTAL index maintenance: the quantizer (a bounded, driver-resident
seed set — production: sampled k-means centroids, refreshed rarely) is
FROZEN; each arriving micro-batch of vectors is assigned map-side
against the broadcast centroid row and APPENDED to the persistent
cell-bucketed index table that the read path (candidate pruning,
cell-local probe joins) consumes — the same bucketed-dim artifact
streaming/candidates.py builds for catalogs past the broadcast ceiling,
now maintained without rebuild.

Three lifecycle properties a long-lived index needs beyond the append
itself (VERDICT r13 #3, ADVICE r13):

- IDEMPOTENT batches: foreachBatch is at-least-once, so a replayed
  micro-batch must not double-append. Every row carries its batch_id
  and the table itself is the durable ledger: a batch_id visible in the
  table means that append's job COMMITTED (parquet writes stage task
  files under _temporary and publish atomically at job commit, so a
  mid-write crash leaves nothing visible) and the replay is skipped.
- BOUNDED FILE GROWTH: each append adds at most one file per bucket
  (the batch's tiny (vec_id, cell, batch_id) rows are repartitioned
  onto the bucket layout before the write — the heavy embedding fold
  stays at full map-side width), and every ANN_COMPACT_EVERY appends
  the table is compacted back to ONE file per bucket via a
  write-new-generation-then-swap rewrite (never in place), so the live
  file count stays under n_buckets x (ANN_COMPACT_EVERY + 1) forever
  instead of growing n_batches x n_buckets. Compaction is
  content-invariant — exactly what the incremental-equals-rebuild hash
  oracle proves end to end.
- CONSTANT READ LAYOUT: appends and compactions both write under the
  same bucketBy(cell) spec, so the cell-local probe join never
  re-exchanges the index side (pinned by
  tests/test_streaming_extras.py::test_ann_index_read_after_appends).

`streaming_ann_index_update` runs the plain maintenance loop end to end
on the embeddings table staged as a 3-slice file stream;
`streaming_ann_index_compact` runs the full lifecycle (10 arrival
batches, compaction every 4) and must produce the identical index;
`streaming_ann_index_upsert` runs the RE-EMBEDDING path (later slices
carry new versions of already-indexed vectors; last-writer-wins on a
data-derived version column; compaction physically purges superseded
versions) and must produce the latest-version assignment;
`streaming_ann_index_delete` completes the CRUD story (keyed tombstones
in a small delete-marker side table, applied physically at compaction)
and must produce the post-CRUD assignment. The SERVING path lives in
streaming/ann_search.py — queries answered from the index these loops
maintain. Common to all:

- quantizer seeds = the derive_ann_cells(corpus) smallest vec_ids of
  the EXISTING corpus (the candidates family's sqrt-corpus width —
  VERDICT r14 #3: the serving probe measured width as the dominant cost
  dial, so it is COUNT-derived on both engines via the
  derive_rec_cells/_rec_cells_sql twins; the offline ann_ivf_topk keeps
  its pinned fixed width), shipped once as the single-row broadcast
  `__cents` relation (plan size independent of the cell count);
- per micro-batch: one map-side fold per vector (the shared
  `_nearest_cells` expression from streaming/candidates.py — let-bound
  row norm, one pass over the cell structs, cos DESC / cid ASC ties),
  then an idempotent APPEND into the bucketBy(cell) index table;
- the returned DataFrame is the final index contents (vec_id, cell).

Assignment is per-row deterministic given the frozen quantizer, so the
incremental build MUST equal the one-pass rebuild — the DuckDB oracle
computes the full-corpus assignment in one query, making "maintenance
converges to rebuild" (and compaction neutrality) an exact,
hash-checked property rather than a claim (the same argument the
streaming dedup family uses for its batch twins).
"""

from __future__ import annotations

import math
import os
import shutil
import time
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
    shuffle_partitions,
)
from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
    _nearest_cells,
    _rec_cells_sql,
    derive_rec_cells,
)
from cqu_bigdata_recommender_system_for_movies_spark.tables import (
    load,
    table_row_count,
)

ANN_INDEX_TABLE = "spark_graft_ann_index"
ANN_COMPACT_TABLE = "spark_graft_ann_index_c"
ANN_UPSERT_TABLE = "spark_graft_ann_index_u"
N_INDEX_SLICES = 3  # staged arrival batches for the availableNow replay
N_COMPACT_SLICES = 10  # lifecycle query: enough appends for 2 compactions
N_UPSERT_SLICES = 4  # upsert query: 2 insert-only slices + 2 update slices
UPSERT_COMPACT_EVERY = 2  # purge superseded versions every 2 appends
ANN_DELETE_TABLE = "spark_graft_ann_index_d"
N_DELETE_SLICES = 5  # delete query: the upsert schedule + a tombstone slice
# Appends between compactions. Each append adds <= 1 file per bucket, a
# compaction rewrites to exactly 1, so the live file count is bounded by
# n_buckets x (ANN_COMPACT_EVERY + 1) regardless of index age. 4 keeps
# the rewrite amortized at ~1/4 of append volume while the read path
# never sees more than 5 files per bucket.
ANN_COMPACT_EVERY = 4
# Bucket-count ceiling for the index layout. The QUANTIZER width is
# corpus-derived (derive_rec_cells — VERDICT r14 #3: the serving probe
# measured width as THE cost dial, 600 -> 272 ms/query going 64 -> 256
# cells at 2M vectors, and sqrt(corpus) is the balanced IVF point), but
# the FILE layout need not follow it 1:1 — cells hash onto a bounded
# bucket set (join key stays `cell`, so the bucketed scan still joins
# with zero index-side exchange), keeping the compaction file bound
# n_buckets x (ANN_COMPACT_EVERY + 1) independent of quantizer growth.
ANN_MAX_BUCKETS = 16
# Rows per task for the pre-assignment fan-out (r16): the vectorized
# assignment costs ~1 µs/row, so ~20k rows ≈ 20 ms of useful work per
# task — below one task's scheduling overhead there is nothing to
# spread and the round-robin exchange ahead of the fold is pure cost
# (it existed to parallelize the ~1 ms/row interpreted fold). Batches
# under this skip the exchange; a 500k-row decade batch still fans to
# ~25 tasks, capped at machine width.
ASSIGN_ROWS_PER_TASK = 20_000


def derive_fold_parts(spark: SparkSession, est_rows: int | None) -> int | None:
    """Fan-out width for a pre-assignment exchange given the expected
    batch row count: 0 = skip the exchange (small batch), capped at
    machine width, None when the size is unknown (callers then keep the
    historical full-width fan-out).

    r17 (VERDICT r16 #4): parts == 1 is never returned — a
    `repartition(1)` pays a full exchange to SERIALIZE the assignment,
    strictly worse than skipping the exchange outright, and the
    20k-40k-row band hit it (suite batches skip below 20k, decade
    batches fan out above 40k, but real arrival batches live in
    between). Below 2 derived tasks the exchange buys nothing: skip."""
    if est_rows is None:
        return None
    width = max(
        shuffle_partitions(spark), spark.sparkContext.defaultParallelism
    )
    parts = est_rows // ASSIGN_ROWS_PER_TASK
    return 0 if parts < 2 else min(width, parts)


# Ceiling on the DERIVED quantizer width. Two measured curves cross
# here (both at the 2M replica): SERVING cost falls with width (r14
# probe: 600 -> 272 ms/query going 64 -> 256 cells — the dial VERDICT
# r14 #3 cites), but INGEST cost rises linearly with it — the per-row
# assignment is an interpreted higher-order fold over the cell structs
# (measured r15: ~33k rows/s across 32 threads at 16 cells, 1.5k rows/s
# at 256; the uncapped sqrt width at 2M would be 2048 cells — measured
# 147 rows/s, nearly four hours per corpus pass). 256 pins the measured serving
# optimum while keeping ingest feasible. Past the cap the honest scale
# path is not a wider flat fold but a HIERARCHICAL coarse quantizer —
# see ivf_two_level_assign below: O(2*sqrt(cells)) dots per row
# restores width-insensitive ingest at production widths.
ANN_DERIVED_CELLS_CAP = 256
# Serving-convention constants, shared by the streaming serving path
# (streaming/ann_search.py imports them from here — this module cannot
# import from ann_search without a cycle) and the hierarchical batch
# search below.
SEARCH_NPROBE = 2  # probed cells per query — the measured recall dial
SEARCH_TOPK = 5
QUERY_MOD = 50  # query set: vec_id % QUERY_MOD == QUERY_REM (2% of corpus)
QUERY_REM = 7
# Level-1 groups probed by the two-level quantizer's assignment — the
# hierarchical analogue of IVF nprobe. Measured flat-agreement curve at
# sf0.1 (64 cells, 8 geometry-grouped reps, near-random synthetic
# embeddings — real clustered embeddings route better): probe 1/2/3/4 ->
# 0.33/0.48/0.61/0.71. Cost is (1+probe)*sqrt(cells) dots/row, so at
# production widths the probe multiplier is noise next to the flat
# fold's linear width cost (256 cells: 80 vs 256 dots; 2048: 225 vs
# 2048; 45k: ~1.1k vs 45k) — buy agreement. Floored in
# tests/test_streaming_extras.py::test_two_level_assign_agreement;
# tools/probe_ann_two_level.py re-measures at replica scale.
ANN_GROUP_PROBE = 4


def derive_ann_cells(sf_dir: str) -> int:
    """Quantizer width for the maintained index family: the SAME
    integer-exact sqrt-corpus derivation as the candidates family
    (derive_rec_cells / _rec_cells_sql twins), sized from the embeddings
    parquet FOOTER count (driver-side metadata, no Spark job) and capped
    at ANN_DERIVED_CELLS_CAP (the measured serving/ingest crossover —
    see the constant). The offline ann_ivf_topk keeps its fixed pinned
    width — its oracle pins the historical 16-cell quantizer; this
    family's oracles derive the width from the same COUNT(*) scalar."""
    return min(
        ANN_DERIVED_CELLS_CAP, derive_rec_cells(table_row_count(sf_dir, "embeddings"))
    )


# SQL twin of derive_ann_cells for the DuckDB oracles: the quantizer
# width as a scalar subquery over the SAME corpus count, under the same
# cap.
ANN_CELLS_SQL = (
    f"(SELECT LEAST({ANN_DERIVED_CELLS_CAP}, "
    f"{_rec_cells_sql('COUNT(*)')}) FROM embeddings)"
)


def derive_ann_cells_wide(sf_dir: str) -> int:
    """Quantizer width for the WIDE (two-level) lifecycle family:
    the same integer-exact sqrt-corpus derivation, UNCAPPED. The cap on
    derive_ann_cells encodes the FLAT fold's measured ingest/serving
    crossover (ingest linear in width — see ANN_DERIVED_CELLS_CAP);
    under hierarchical assignment ingest is width-INSENSITIVE (measured
    r15/r16: the two-level rate moves 8.9k -> 5.8k rows/s going
    256 -> 2048 cells while the flat fold collapses 1.5k -> 147), so
    the wide family lets the derivation follow sqrt(corpus) all the way
    up and buys the wide-serving regime (16.2 ms/query at 2048 cells vs
    272 at 256 — SCALE_r15 ann_two_level_serve_1000x). At the suite sfs
    the corpus sits under the cap, so wide == capped width there."""
    return derive_rec_cells(table_row_count(sf_dir, "embeddings"))


# SQL twin of derive_ann_cells_wide: the same scalar subquery, no cap.
ANN_CELLS_WIDE_SQL = f"(SELECT {_rec_cells_sql('COUNT(*)')} FROM embeddings)"


def _ann_cents_relation(emb: DataFrame, n_cells: int) -> DataFrame:
    """The frozen quantizer as the single-row broadcast `__cents`
    relation (cid, ce, nc) — seeds = the n_cells smallest vec_ids of the
    existing corpus, norms precomputed with the same left fold +
    correctly-rounded sqrt as the oracle's sqrt(list_dot_product)
    (the `_ivf_assign_cells` / candidates `_centroid_relation` shape)."""
    spark = emb.sparkSession
    seeds = (
        emb.filter(F.col("vec_id") < n_cells)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
        .collect()
    )

    def _norm(ce: list[float]) -> float:
        acc = 0.0
        for x in ce:
            acc += x * x
        return math.sqrt(acc)

    seed_rows = [
        (int(r.cid), [float(x) for x in r.ce], _norm(list(r.ce)))
        for r in sorted(seeds, key=lambda r: r.cid)
    ]
    cents_df = spark.createDataFrame(
        [(seed_rows,)],
        schema="__cents array<struct<cid:int,ce:array<double>,nc:double>>",
    )
    # r16: carry the driver-resident seed list beside the relation so the
    # assignment path can run the Arrow-vectorized twin of the fold
    # (functions/nearcell.py) instead of the interpreted per-row HOF —
    # same bounded data, bit-identical selection, ~1000x per-cosine.
    cents_df._sg_seeds = seed_rows  # noqa: SLF001 — engine-internal tag
    return cents_df


def assign_batch(
    batch_df: DataFrame, cents, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, cell, *carry): map-side cell assignment of one arrival
    batch against the frozen quantizer — no corpus-sized exchange
    either way. `carry` names batch columns to keep beside the
    assignment (the upsert loop carries its version column).

    ``cents`` picks the assignment algorithm (r16 — VERDICT r15 #2, the
    lifecycle integration seam):
    - a plain DataFrame (the `__cents` single-row relation) runs the
      FLAT nearest-cell argmax — bit-identical to the historical
      interpreted fold, but executed as the Arrow-vectorized numpy twin
      (functions/nearcell.py) when the relation carries its seed list
      (r16, guide §4.2 — the interpreted HOF measured 15-30 µs/cosine
      and was linear in quantizer width: 33k/1.5k/147 rows/s at
      16/256/2048 cells on the 2M replica; the vectorized twin removes
      that wall). A bare relation without seeds falls back to the
      expression fold;
    - a ``TwoLevel`` quantizer runs the HIERARCHICAL selection
      (_two_level_cell over the broadcast reps+grouped-cells rows) —
      O((1+probe)*sqrt(width)) dots per row, the width-insensitive
      ingest path past the cap (measured: 8.9k vs 147 rows/s at 2048
      cells on the 2M replica)."""
    if isinstance(cents, TwoLevel):
        two_rows = _two_level_seed_rows(cents.reps, cents.gcents)
        if two_rows is not None:
            from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
                two_level_cell_udf,
            )

            cell = two_level_cell_udf(*two_rows, ANN_GROUP_PROBE)(F.col("e"))
            return batch_df.select("vec_id", cell.alias("cell"), *carry)
        return (
            batch_df.crossJoin(F.broadcast(cents.gcents))
            .crossJoin(F.broadcast(cents.reps))
            .select("vec_id", _two_level_cell("e").alias("cell"), *carry)
        )
    seed_rows = getattr(cents, "_sg_seeds", None)
    if seed_rows is not None:
        from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
            nearest_cell_udf,
        )

        return batch_df.select(
            "vec_id", nearest_cell_udf(seed_rows)(F.col("e")).alias("cell"), *carry
        )
    return batch_df.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.element_at(_nearest_cells("e", 1), 1).alias("cell"),
        *carry,
    )


def batch_already_applied(spark: SparkSession, table: str, batch_id: int) -> bool:
    """ADVICE r13: foreachBatch replays batches at least once. The index
    table is its own commit ledger — batch_id rides every row, and the
    parquet job commit is atomic (task files stay invisible under
    _temporary until the committer publishes them), so a visible
    batch_id row proves the append completed and the replay must skip.
    The existence probe is a LIMIT 1 scan that parquet row-group
    min/max stats prune; compaction keeps the file count it has to
    consult bounded."""
    if not spark.catalog.tableExists(table):
        return False
    # foreachBatch appends run through the micro-batch's CLONED session,
    # which invalidates only its own relation cache — this session's
    # cached file listing would silently miss every file a prior batch
    # committed (observed: the final snapshot read only the last slice).
    # Refresh before any read that must see the latest committed append.
    spark.catalog.refreshTable(table)
    return (
        spark.table(table).where(F.col("batch_id") == int(batch_id)).limit(1).count()
        > 0
    )


def apply_index_batch(
    spark: SparkSession,
    table: str,
    loc: str,
    batch_df: DataFrame,
    cents: DataFrame,
    batch_id: int,
    n_buckets: int,
    check_ledger: bool = True,
    carry: tuple[str, ...] = (),
    fold_parts: int | None = None,
) -> bool:
    """One idempotent maintenance append. Returns False when the batch
    was already applied (a foreachBatch replay), True after a commit.

    ``check_ledger=False`` skips the existence probe when the CALLER
    already knows the batch is new — the maintenance loop reads the
    table's max committed batch_id ONCE at startup and only probes for
    ids at or below that resume floor (batch ids are monotonic per
    checkpoint, so anything above the floor cannot be in the table),
    making the steady-state cost zero scans per batch instead of one.

    ``fold_parts`` sizes the pre-assignment fan-out exchange (r16): the
    vectorized assignment (functions/nearcell.py) costs ~1 µs/row, so a
    small batch is cheaper to assign in place than to round-robin
    exchange first — callers derive the width from the expected batch
    rows (maintain_index: corpus footers / n_slices) and pass 0/None to
    skip the exchange entirely. Default None keeps the historical
    full-width fan-out for callers that don't know their batch size.
    Per-row-deterministic assignment means the partitioning never
    touches results.

    Only the assigned (vec_id, cell, batch_id) rows — bytes per row,
    not the vectors — are then repartitioned onto the bucket layout so
    each append adds AT MOST ONE FILE PER BUCKET (an un-repartitioned
    bucketed write emits one file per bucket PER TASK, which is how
    append-only bucketed tables blow up their file counts at scale)."""
    if check_ledger and batch_already_applied(spark, table, batch_id):
        return False
    if fold_parts is None:
        fold_parts = shuffle_partitions(spark)
    fanned = batch_df.repartition(fold_parts) if fold_parts else batch_df
    assigned = assign_batch(fanned, cents, carry=carry).withColumn(
        "batch_id", F.lit(int(batch_id))
    )
    writer = (
        assigned.repartition(n_buckets, "cell")
        .write.mode("append")
        .bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .format("parquet")
    )
    if not spark.catalog.tableExists(table):
        writer = writer.option("path", loc)
    writer.saveAsTable(table)
    # see batch_already_applied: writes from a cloned micro-batch session
    # don't invalidate this session's relation cache
    spark.catalog.refreshTable(table)
    return True


def _table_location(spark: SparkSession, table: str) -> str:
    row = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .where(F.col("col_name") == "Location")
        .collect()
    )
    return row[0].data_type.removeprefix("file:")


def _index_file_count(loc: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(loc)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _index_row_count(loc: str) -> int:
    """Total rows from parquet FOOTER metadata — a driver-side,
    milliseconds read, never a Spark job (VERDICT r14 #7: the audit's
    per-batch `rows` instrument must not cost an O(index) count; at a
    real 100 TB index a full count per batch is the wrong tool)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _, files in os.walk(loc)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def compact_index_table(
    spark: SparkSession,
    table: str,
    n_buckets: int,
    new_loc: str,
    purge_latest_by: str | None = None,
    tombstones: DataFrame | None = None,
) -> None:
    """Rewrite the bucketed index back to ONE file per bucket.

    ``purge_latest_by`` names a version column: the rewrite then keeps
    only each vec_id's LATEST version (row_number over ver DESC) — the
    upsert loop's merge-on-write, where superseded re-embeddings are
    physically dropped at compaction time instead of filtered on every
    read. A purging compaction necessarily shuffles (winner selection
    keys on vec_id, the write layout on cell); the plain file merge
    below stays exchange-free.

    Write-then-swap, never in place: the current table is read into a
    NEW generation directory under a temp catalog name (repartitioning
    by the bucket column — HashPartitioning is the same murmur3 pmod as
    the bucket assignment, so each task holds exactly one bucket and
    writes exactly one file), then the catalog entries swap
    (rename-aside, so a live catalog entry exists at every point — see
    the swap comment below) and the old generation's files are deleted.
    A crash mid-compaction never loses the live data. For the PLAIN
    merge, contents (batch_id ledger included) are invariant — the
    incremental-equals-rebuild hash oracle checks runs that compacted,
    so neutrality is driver-proven, not asserted. ADVICE r14: the
    PURGING modes (purge_latest_by / tombstones) physically drop
    superseded rows, which can drop the only rows carrying an old
    batch_id — after a purge, the in-table ledger no longer remembers
    those batches. Results stay correct regardless: a replayed stale
    batch re-appends rows that max-version/tombstone semantics
    supersede again (and the next purge re-drops). The ZERO-re-append
    idempotency guarantee therefore survives only non-purging
    compactions; deployments that need a complete commit history under
    purges should keep a tiny committed-batch_id side ledger."""
    tmp = f"{table}_compacting"
    old_loc = _table_location(spark, table)
    spark.catalog.refreshTable(table)  # see batch_already_applied
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    shutil.rmtree(new_loc, ignore_errors=True)
    # Force the BUCKETED scan for the rewrite: a plain scan→write has no
    # join/agg on the bucket key, so DisableUnnecessaryBucketedScan would
    # fall back to file-split partitions — while the planner has ALREADY
    # removed the aligning repartition as redundant against the bucketed
    # output partitioning (measured: 20 misaligned tasks → 37 files).
    # With the bucketed scan pinned, each task reads exactly one bucket's
    # files and writes exactly one — compaction is a bucket-local file
    # merge with ZERO exchange, the cheapest possible rewrite.
    prev_auto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        cur = spark.table(table)
        if purge_latest_by is not None:
            from pyspark.sql import Window

            w = Window.partitionBy("vec_id").orderBy(F.desc(purge_latest_by))
            cur = (
                cur.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        if tombstones is not None:
            # apply delete markers physically: drop every row at or
            # below its key's newest marker version (newer re-inserts
            # survive); the markers themselves stay in their side table
            cur = (
                cur.join(tombstones, "vec_id", "left")
                .filter(
                    F.col("__dver").isNull() | (F.col("__dver") < F.col("ver"))
                )
                .drop("__dver")
            )
        (
            cur.repartition(n_buckets, "cell")
            .write.mode("overwrite")
            .option("path", new_loc)
            .bucketBy(n_buckets, "cell")
            .sortBy("cell")
            .format("parquet")
            .saveAsTable(tmp)
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev_auto
        )
    _swap_generations(spark, table, tmp, old_loc)


def _swap_generations(
    spark: SparkSession, table: str, tmp: str, old_loc: str
) -> None:
    """Promote a fully-written new generation (catalog name ``tmp``) to
    ``table`` and delete the old generation's files.

    ADVICE r14: rename the live table ASIDE before promoting the new
    generation — a DROP-then-RENAME swap has a window where NO catalog
    entry exists for the data. With rename-aside, a crash at any point
    leaves the data under SOME catalog entry: before the first rename
    the old generation serves as ``table``; between the two renames the
    complete new generation sits under ``tmp`` and the old one under
    ``retiring`` (no entry named ``table`` exists for that instant);
    after the second rename the new generation serves. ADVICE r15: the
    mid-swap instant is not self-healing — a resume that only checked
    ``tableExists(table)`` would see False and start a fresh gen0 while
    the complete generation sat aside — so ``recover_swap`` (called by
    every resume entry point) completes the promotion first: it renames
    the surviving ``tmp`` to ``table`` and drops the retired entry.
    Both tables are EXTERNAL (created with an explicit path), so
    renames move only catalog entries, never files."""
    retiring = f"{table}_retiring"
    spark.sql(f"DROP TABLE IF EXISTS {retiring}")
    spark.sql(f"ALTER TABLE {table} RENAME TO {retiring}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    spark.sql(f"DROP TABLE {retiring}")
    spark.catalog.refreshTable(table)
    shutil.rmtree(old_loc, ignore_errors=True)


def recover_swap(spark: SparkSession, table: str) -> bool:
    """Startup recovery for a crash inside ``_swap_generations``
    (ADVICE r15): if a COMPLETE new generation survives under a
    temporary name (``{table}_compacting`` / ``{table}_migrating``)
    while no entry named ``table`` exists — the mid-swap instant, after
    the live table was renamed aside but before the promotion rename —
    finish the promotion: rename the surviving generation to ``table``
    and drop the retired entry (its files included). Also reclaims a
    leftover ``{table}_retiring`` when ``table`` DOES exist (a crash
    after the promotion rename but before the retire drop). Idempotent,
    a metadata-only no-op in the steady state; every resume entry point
    (``maintain_index`` ``fresh=False``) calls it before reading the
    resume floor. Returns True when a promotion was completed.

    The one state it cannot repair is a crash BEFORE the rename-aside
    with a fully-written ``tmp``: both ``table`` (old generation, still
    live and correct) and ``tmp`` exist — the swap simply re-runs at
    the next maintenance window, so nothing needs recovering."""
    promoted = False
    retiring = f"{table}_retiring"
    if not spark.catalog.tableExists(table):
        for suffix in ("_compacting", "_migrating"):
            tmp = f"{table}{suffix}"
            if spark.catalog.tableExists(tmp):
                spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
                spark.catalog.refreshTable(table)
                promoted = True
                break
    if spark.catalog.tableExists(retiring):
        old_loc = _table_location(spark, retiring)
        spark.sql(f"DROP TABLE {retiring}")
        shutil.rmtree(old_loc, ignore_errors=True)
    return promoted


def migrate_index_table(
    spark: SparkSession,
    table: str,
    n_buckets: int,
    new_loc: str,
    new_cents: DataFrame,
) -> None:
    """The staleness alarm's ACTUATOR (VERDICT r14 #4): re-assign every
    stored vector map-side under a REFRESHED quantizer and swap
    generations. The detector (the audit's per-batch cell-skew signal)
    says the frozen quantizer no longer fits arriving data; remediation
    is a one-generation rewrite of the index under new seeds — the same
    write-new-then-swap machinery as compaction, with the assignment
    fold applied during the rewrite. Requires a vector-bearing index
    (maintain_index carry_vectors=True — the IVF-list shape): the
    migration reads vectors FROM THE INDEX ITSELF, never a trip back to
    the source corpus. One exchange total: the re-assigned rows
    repartition onto the (new) bucket layout; the assignment itself is
    the broadcast-fold, exactly the append path's shape."""
    tmp = f"{table}_migrating"
    old_loc = _table_location(spark, table)
    spark.catalog.refreshTable(table)  # see batch_already_applied
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    shutil.rmtree(new_loc, ignore_errors=True)
    cur = spark.table(table)
    carry = tuple(c for c in cur.columns if c not in ("vec_id", "cell"))
    reassigned = assign_batch(cur.drop("cell"), new_cents, carry=carry)
    (
        reassigned.repartition(n_buckets, "cell")
        .write.mode("overwrite")
        .option("path", new_loc)
        .bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .format("parquet")
        .saveAsTable(tmp)
    )
    _swap_generations(spark, table, tmp, old_loc)


def maintain_index(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    n_slices: int,
    compact_every: int | None = None,
    audit: list | None = None,
    cleanup: bool = True,
    upsert: bool = False,
    deletes: bool = False,
    fresh: bool = True,
    checkpoint_dir: str | None = None,
    stage_dir: str | None = None,
    carry_vectors: bool = False,
    n_cells: int | None = None,
    two_level: bool = False,
) -> DataFrame:
    """Run the incremental-maintenance loop end to end and return the
    final index contents (vec_id, cell). `audit`, when given, receives
    one dict per applied batch (file count + per-batch cell skew — the
    quantizer-staleness signal: drift in arriving data shows up as the
    largest-cell/mean-cell ratio climbing across appends).

    ``upsert=True`` runs the RE-EMBEDDING scenario: later slices carry
    NEW versions of already-indexed vectors (the deterministic payload:
    vec_id % 4 < 2 gets its embedding sign-flipped in arrival slice
    (vec_id % 4) + 2). Index semantics become last-writer-wins on the
    data-derived version column — the snapshot keeps each vec_id's
    max-ver row, and compaction physically PURGES superseded versions
    (merge-on-write), so the steady-state table holds one row per
    vector regardless of re-embedding traffic.

    ``deletes=True`` (implies the versioned staging) reserves the LAST
    slice for TOMBSTONES (vec_id % mod == 2, at ver = mod — the delete
    arrives after every version it kills): deletes land in a small side
    table of (vec_id, ver, batch_id) delete markers — the Iceberg
    delete-file shape, since a keyed tombstone cannot be routed into
    the cell-bucketed layout without knowing the key's cell — the
    snapshot anti-joins markers newer than the winning version (an even
    newer re-insert would revive the key), and compaction applies them
    PHYSICALLY to the index rewrite. Markers are retained (bounded:
    one row per deleted key) so replays and late versions stay
    correct.

    ``fresh=False`` RESUMES an existing index instead of dropping it
    (ADVICE r14: with an unconditional drop the resume-floor/ledger
    guard could never engage in the streaming path): the table survives,
    the resume floor is read from its max committed batch_id, and every
    replayed batch at or below the floor consults the in-table ledger.
    Resuming requires ``checkpoint_dir`` (batch-id monotonicity — the
    floor's correctness argument — holds only PER CHECKPOINT; a fresh
    checkpoint restarts ids at 0 and relies on the source replaying the
    SAME batches, which only the original checkpoint's offset log
    guarantees) and ``stage_dir`` pointing at the already-staged
    arrivals. The registered queries run fresh=True end to end;
    tests/test_streaming_extras.py::test_ann_index_resume_skips_replayed_batch
    constructs the resume by dropping the newest checkpoint commit.

    ``carry_vectors=True`` stores each row's embedding beside its cell
    assignment (the IVF-list shape the serving path reads) so the
    maintained artifact can answer searches and be MIGRATED under a
    refreshed quantizer without a trip back to the source corpus.

    ``n_cells`` overrides the corpus-derived quantizer width — PROBE
    USE ONLY (decade replicas pin a narrow width so a multi-pass run
    stays inside the harness budget; the flat fold is linear in width).
    The registered queries never pass it: an override would desync the
    engine from its COUNT-derived oracle twin.

    ``two_level=True`` runs the WIDE lifecycle (r16 — VERDICT r15 #2):
    the quantizer width is the UNCAPPED sqrt-corpus derivation
    (derive_ann_cells_wide) and every assignment — appends and any
    migration built on this loop — goes through the hierarchical
    two-level selection instead of the flat fold, which is what makes
    the uncapped width affordable (flat ingest is linear in width,
    two-level is O((1+probe)*sqrt(width)) — see assign_batch). File
    layout is unchanged: cells still hash onto the bounded bucket set,
    so the compaction file bound and the zero-exchange bucketed read
    survive the wider quantizer."""
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _snapshot_and_clean,
    )

    if not fresh and (checkpoint_dir is None or stage_dir is None):
        raise ValueError(
            "fresh=False resumes an existing run: pass the original "
            "checkpoint_dir and stage_dir (see docstring)"
        )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    if n_cells is None:
        # ADVICE r15: honor a caller-pinned width — an unconditional
        # reassignment here silently ran every "pinned" probe at the
        # derived width (tests/test_streaming_extras.py::
        # test_maintain_index_honors_pinned_width pins the regression).
        n_cells = (
            derive_ann_cells_wide(sf_dir) if two_level else derive_ann_cells(sf_dir)
        )
    cents = (
        two_level_quantizer(emb, n_cells)
        if two_level
        else _ann_cents_relation(emb, n_cells)
    )

    own_stage = stage_dir is None
    if own_stage:
        stage_dir = tempfile.mkdtemp(prefix="spark_graft_ann_stage_")
        restage = True
    else:
        # caller owns the staging dir (the resume path re-reads it)
        restage = fresh or not os.path.isdir(stage_dir)
    if restage:
        shutil.rmtree(stage_dir, ignore_errors=True)
    if upsert:
        # versioned staging: slice s = the originals with vec_id%n==s
        # (ver=s), plus for s >= 2 the re-embedded updates of slice s-2
        # (ver=s — ver doubles as the arrival slice, so winners are
        # data-derived and immune to the file source merging batches).
        # File mtimes follow version order; correctness never depends on
        # it (max-ver wins), it just makes the replay realistic.
        mod = n_slices - 1 if deletes else n_slices
        orig = emb.select(
            "vec_id",
            "e",
            F.pmod("vec_id", F.lit(mod)).cast("int").alias("ver"),
            F.lit("u").alias("op"),
        )
        upd = emb.filter(F.pmod("vec_id", F.lit(mod)) < mod - 2).select(
            "vec_id",
            F.transform("e", lambda x: -x).alias("e"),
            (F.pmod("vec_id", F.lit(mod)) + 2).cast("int").alias("ver"),
            F.lit("u").alias("op"),
        )
        versions = orig.unionByName(upd)
        if deletes:
            tombs = emb.filter(F.pmod("vec_id", F.lit(mod)) == 2).select(
                "vec_id",
                F.lit(None).cast("array<double>").alias("e"),
                F.lit(mod).cast("int").alias("ver"),
                F.lit("d").alias("op"),
            )
            versions = versions.unionByName(tombs)
        if restage:
            # ONE staging job, partitioned by the version slice (r17 —
            # the non-upsert branch's shape): the old per-slice loop ran
            # n_slices sequential jobs, each re-evaluating the full
            # versions union to filter out one slice (~0.3-0.5 s of pure
            # job overhead per slice at suite scale). partitionBy("ver")
            # yields the same one-file-per-slice layout in one pass.
            # Correctness never depended on replay order — winners are
            # data-derived (max ver per key; the r14 batch-merge note) —
            # but the file source orders equal-mtime files arbitrarily,
            # so the mtimes are staggered driver-side (microseconds of
            # os.utime, no Spark job) to keep the REALISTIC replay the
            # old sequential writes produced: versions arrive in order,
            # the tombstone slice last. The stagger is back-dated, so no
            # file carries an mtime later than the end of staging (file
            # age accounting such as maxFileAge assumes mtime <= now).
            (
                versions.repartition(n_slices, "ver")
                .write.mode("overwrite")
                .partitionBy("ver")
                .parquet(stage_dir)
            )
            base_t = time.time()
            for s in range(n_slices):
                vdir = os.path.join(stage_dir, f"ver={s}")
                if os.path.isdir(vdir):
                    for f in os.listdir(vdir):
                        t = base_t - 2.0 * (n_slices - s)
                        os.utime(os.path.join(vdir, f), (t, t))
        read_schema = "vec_id long, e array<double>, ver integer, op string"
        stream = (
            spark.readStream.schema(read_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
    else:
        # stage the corpus as n_slices arrival batches (pmod keeps the
        # slicing deterministic; one file per trigger = one batch per slice)
        if restage:
            (
                emb.withColumn(
                    "slice", F.pmod("vec_id", F.lit(n_slices)).cast("int")
                )
                .repartition(n_slices, "slice")
                .write.mode("overwrite")
                .partitionBy("slice")
                .parquet(stage_dir)
            )
        read_schema = "vec_id long, e array<double>, slice integer"
        stream = (
            spark.readStream.schema(read_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
            .drop("slice")
        )

    loc_base = os.path.join(tempfile.gettempdir(), "spark_graft_tables", table)
    tomb_table = f"{table}_tombs"
    n_buckets = min(ANN_MAX_BUCKETS, n_cells)
    if fresh:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_compacting")
        spark.sql(f"DROP TABLE IF EXISTS {table}_retiring")
        for gen in range(n_slices + 2):
            shutil.rmtree(f"{loc_base}_gen{gen}", ignore_errors=True)
        if deletes:
            spark.sql(f"DROP TABLE IF EXISTS {tomb_table}")
            shutil.rmtree(f"{loc_base}_tombs", ignore_errors=True)
        resume_floor = -1  # nothing to resume: zero ledger probes
    else:
        # a crash inside a generation swap leaves the complete new
        # generation under an aside name — complete the promotion before
        # reading the resume floor (ADVICE r15; see recover_swap)
        recover_swap(spark, table)
        # resume floor: the max batch_id already committed to the table
        # (a restart resuming an existing index under its ORIGINAL
        # checkpoint — see docstring). Batch ids are monotonic per
        # checkpoint, so only ids AT OR BELOW the floor can be replays —
        # ids above it skip the per-batch ledger probe entirely (zero
        # existence scans in the steady state).
        if spark.catalog.tableExists(table):
            spark.catalog.refreshTable(table)
            row = spark.table(table).agg(F.max("batch_id")).collect()[0]
            resume_floor = -1 if row[0] is None else int(row[0])
        else:
            resume_floor = -1
    # audit row counter: running sum of applied batch rows, re-anchored
    # from the rewrite's own parquet footers after each compaction
    # (VERDICT r14 #7 — no O(index) count in the per-batch path). On
    # resume, re-anchor from the live generation's footers; its directory
    # suffix also tells the compactor which generation number is next
    # (writing into the LIVE generation's directory would destroy it).
    if not fresh and spark.catalog.tableExists(table):
        live_loc = _table_location(spark, table)
        start_rows = _index_row_count(live_loc)
        gen_suffix = live_loc.rsplit("_gen", 1)[-1]
        start_gen = int(gen_suffix) if gen_suffix.isdigit() else 0
    else:
        start_rows, start_gen = 0, 0
    state = {"appends": 0, "gen": start_gen, "rows": start_rows}

    def _tombstones() -> DataFrame | None:
        """Newest delete marker per key, or None when nothing is
        tombstoned yet. Bounded: one row per ever-deleted vec_id."""
        if not (deletes and spark.catalog.tableExists(tomb_table)):
            return None
        spark.catalog.refreshTable(tomb_table)
        return spark.table(tomb_table).groupBy("vec_id").agg(
            F.max("ver").alias("__dver")
        )

    # r16: size the pre-assignment fan-out from the staged corpus footers
    # (driver-side metadata) — small batches skip the exchange entirely,
    # decade batches fan to ~rows/ASSIGN_ROWS_PER_TASK tasks
    fold_parts = derive_fold_parts(
        spark, max(1, table_row_count(sf_dir, "embeddings") // max(n_slices, 1))
    )

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        upserts = batch_df
        if upsert:
            upserts = batch_df.filter(F.col("op") == "u").drop("op")
        check_ledger = int(batch_id) <= resume_floor
        if check_ledger and batch_already_applied(spark, table, batch_id):
            if audit is not None:
                audit.append({"replay_skipped": int(batch_id)})
            return
        if deletes:
            # delete markers ride a SMALL side table (the Iceberg
            # delete-file shape — a keyed tombstone can't be routed into
            # the cell-bucketed layout without knowing the key's cell).
            # Markers are written BEFORE the index append — the append is
            # the batch's commit marker, so a crash in between replays
            # the whole batch and merely duplicates markers, which the
            # max(ver)-per-key aggregation absorbs; the reverse order
            # could LOSE deletes forever.
            dels = batch_df.filter(F.col("op") == "d").select(
                "vec_id", "ver", F.lit(int(batch_id)).alias("batch_id")
            )
            # r17: most arrival batches carry no tombstones — probing
            # emptiness (a LIMIT 1 over the batch with the op filter
            # pushed down) is ~4x cheaper than the append job + catalog
            # write it skips. Batches WITH deletes keep the exact
            # marker-before-append ordering (a skipped batch has no
            # markers to lose, so the crash-safety argument is intact).
            if not dels.isEmpty():
                writer = dels.coalesce(1).write.mode("append").format("parquet")
                if not spark.catalog.tableExists(tomb_table):
                    writer = writer.option("path", f"{loc_base}_tombs")
                writer.saveAsTable(tomb_table)
                spark.catalog.refreshTable(tomb_table)
        applied = apply_index_batch(
            spark,
            table,
            f"{loc_base}_gen0",
            upserts,
            cents,
            batch_id,
            n_buckets,
            check_ledger=False,  # the guard above already ran
            carry=(("ver",) if upsert else ())
            + (("e",) if carry_vectors else ()),
            fold_parts=fold_parts,
        )
        assert applied
        state["appends"] += 1
        if audit is not None:
            # THIS batch's cell histogram (bounded: <= n_cells rows) —
            # the quantizer-staleness signal: the frozen quantizer is
            # correct by construction, but drift in the arriving data
            # shows up as this per-batch largest-cell/mean-cell ratio
            # spiking (a drifted batch concentrates in few cells), long
            # before the cumulative distribution moves.
            cells = (
                spark.table(table)
                .where(F.col("batch_id") == int(batch_id))
                .groupBy("cell")
                .count()
                .collect()
            )
            counts = [r["count"] for r in cells]
            state["rows"] += int(sum(counts))
            audit.append(
                {
                    "batch_id": int(batch_id),
                    "files": _index_file_count(_table_location(spark, table)),
                    # VERDICT r14 #7: running sum of applied batch rows —
                    # never an O(index) count in the per-batch path
                    "rows": int(state["rows"]),
                    "batch_rows": int(sum(counts)),
                    # largest cell vs the mean over ALL quantizer cells
                    # (not just occupied ones — a fully-concentrated
                    # drifted batch occupies ONE cell, and max/mean over
                    # occupied cells would read a flat 1.0 exactly when
                    # the drift is worst). None for a batch with no
                    # upsert rows (e.g. a tombstone-only delete batch).
                    "cell_skew": (
                        round(max(counts) / (sum(counts) / n_cells), 3)
                        if counts
                        else None
                    ),
                }
            )
        if compact_every and state["appends"] % compact_every == 0:
            state["gen"] += 1
            compact_index_table(
                spark,
                table,
                n_buckets,
                f"{loc_base}_gen{state['gen']}",
                purge_latest_by="ver" if upsert else None,
                tombstones=_tombstones(),
            )
            if audit is not None:
                # re-anchor the running row counter from the rewrite's
                # OWN output (parquet footers of the new generation — a
                # purging compaction changes the row count; footers are
                # a driver-side metadata read, not a table scan)
                new_loc = _table_location(spark, table)
                state["rows"] = _index_row_count(new_loc)
                audit.append(
                    {
                        "compacted_after": int(batch_id),
                        "files": _index_file_count(new_loc),
                        "rows": int(state["rows"]),
                    }
                )

    writer = (
        stream.writeStream.foreachBatch(emit)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        # a PERSISTENT checkpoint makes the resume path constructible
        # (ADVICE r14): batch ids and batch contents replay from its
        # offset log, which is what the resume floor's monotonicity
        # argument assumes. Without it Spark uses an ephemeral
        # checkpoint — fine for the fresh one-shot registered queries.
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.awaitTermination()
    finally:
        q.stop()

    final_loc = _table_location(spark, table)
    contents = spark.table(table)
    if upsert:
        # last-writer-wins: each vec_id's max-ver row is the live index
        # entry (whatever compaction has or hasn't purged yet)
        from pyspark.sql import Window

        w = Window.partitionBy("vec_id").orderBy(F.desc("ver"))
        contents = (
            contents.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    tombs = _tombstones()
    if tombs is not None:
        # a marker kills every version up to its own; a NEWER version
        # (a re-insert after the delete) revives the key
        contents = (
            contents.join(tombs, "vec_id", "left")
            .filter(F.col("__dver").isNull() | (F.col("__dver") < F.col("ver")))
            .drop("__dver")
        )
    # materialize the snapshot, then clean only staging WE created — a
    # caller-provided stage_dir backs the resume path's second run
    snap = _snapshot_and_clean(
        contents.select("vec_id", "cell"),
        stage_dir if own_stage else os.path.join(stage_dir, "__keep_sentinel__"),
    )
    if cleanup:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {tomb_table}")
        shutil.rmtree(final_loc, ignore_errors=True)
        shutil.rmtree(f"{loc_base}_tombs", ignore_errors=True)
        for gen in range(n_slices + 2):
            shutil.rmtree(f"{loc_base}_gen{gen}", ignore_errors=True)
    return snap


_ANN_ORACLE = f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {ANN_CELLS_SQL}),
    scored AS (
        SELECT b.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.e, c.ce) /
                            (sqrt(list_dot_product(b.e, b.e)) *
                             sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                            c.cid
               ) AS rn
        FROM base b CROSS JOIN cent c
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cell FROM scored WHERE rn = 1
    """


@register(
    "streaming_ann_index_update",
    # The full-corpus one-pass assignment IS the oracle: assignment is
    # per-row deterministic under the frozen quantizer, so the
    # incremental append-per-batch build must converge to it exactly
    # (same quantizer + fold + tie order as ann_ivf_topk's oracle,
    # vectors.py — cos DESC, cid ASC).
    oracle=_ANN_ORACLE,
    doc="Streaming ANN index MAINTENANCE (beyond-reference — the write "
    "path of the similarity-search story): new vectors arrive as "
    f"micro-batches ({N_INDEX_SLICES} staged slices, availableNow); "
    "each batch is assigned map-side against the FROZEN broadcast "
    "quantizer (derive_ann_cells seeds — the corpus-derived ~sqrt "
    "width) and idempotently APPENDED to the persistent bucketBy(cell) "
    "index table the cell-local read path consumes — no corpus rebuild, "
    "each batch adds at most one bucketed file per bucket under the "
    "constant bucket spec, and a replayed batch (foreachBatch is "
    "at-least-once) is detected via the in-table batch_id ledger and "
    "skipped. Returns the final index (vec_id, cell); the oracle "
    "computes the one-pass full-corpus assignment, so "
    "incremental-equals-rebuild is hash-checked exactly.",
)
def streaming_ann_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_index(spark, sf_dir, ANN_INDEX_TABLE, N_INDEX_SLICES)


@register(
    "streaming_ann_index_compact",
    # Identical oracle: compaction must be content-invariant, so the
    # full lifecycle (10 appends, write-new-generation-then-swap
    # compaction every 4) has to hash-match the same one-pass rebuild
    # the plain maintenance loop matches.
    oracle=_ANN_ORACLE,
    doc="Streaming ANN index LIFECYCLE (VERDICT r13 #3 — a production "
    "index lives long enough that unbounded append files dominate read "
    f"cost): {N_COMPACT_SLICES} arrival batches with compaction every "
    f"{ANN_COMPACT_EVERY} appends — the bucketed table is rewritten to "
    "one file per bucket into a NEW generation directory and swapped "
    "into the catalog (crash-safe: the live table is never rewritten "
    "in place), bounding the live file count at "
    "n_buckets x (ANN_COMPACT_EVERY + 1) regardless of index age while "
    "the read path keeps its no-dim-exchange bucketed join layout. "
    "Returns the final index (vec_id, cell); sharing the plain "
    "maintenance loop's one-pass-rebuild oracle makes compaction "
    "neutrality an exact, driver-hash-checked property.",
)
def streaming_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_index(
        spark,
        sf_dir,
        ANN_COMPACT_TABLE,
        N_COMPACT_SLICES,
        compact_every=ANN_COMPACT_EVERY,
    )


@register(
    "streaming_ann_index_upsert",
    # The oracle replays the versioned arrival schedule in one query:
    # originals at ver = vec_id % 4, re-embeddings (sign-flipped — a
    # deterministic, bit-exact payload on both engines) of slices 0/1
    # at ver = vec_id % 4 + 2, winner = max ver per vec_id, then the
    # same frozen-quantizer assignment. The engine must converge to the
    # LATEST version's assignment through incremental appends AND the
    # purging compactions — last-writer-wins is hash-checked exactly.
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    versions AS (
        SELECT vec_id, e, CAST(vec_id % {N_UPSERT_SLICES} AS INTEGER) AS ver
        FROM base
        UNION ALL
        SELECT vec_id, list_transform(e, x -> -x) AS e,
               CAST(vec_id % {N_UPSERT_SLICES} + 2 AS INTEGER) AS ver
        FROM base WHERE vec_id % {N_UPSERT_SLICES} < {N_UPSERT_SLICES - 2}
    ),
    latest AS (
        SELECT vec_id, e FROM (
            SELECT vec_id, e,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY ver DESC
                   ) AS vrn
            FROM versions
        ) WHERE vrn = 1
    ),
    cent AS (SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {ANN_CELLS_SQL}),
    scored AS (
        SELECT l.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY l.vec_id
                   ORDER BY list_dot_product(l.e, c.ce) /
                            (sqrt(list_dot_product(l.e, l.e)) *
                             sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                            c.cid
               ) AS rn
        FROM latest l CROSS JOIN cent c
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cell FROM scored WHERE rn = 1
    """,
    doc="Streaming ANN index UPSERT (beyond-reference — the re-embedding "
    "path every production embedding pipeline needs: items get "
    "re-encoded by a newer model and their index entries must follow): "
    f"{N_UPSERT_SLICES} arrival slices where later slices carry NEW "
    "versions of already-indexed vectors (deterministic sign-flip "
    "payload). Index semantics are last-writer-wins on a data-derived "
    "version column; every "
    f"{UPSERT_COMPACT_EVERY} appends the generation-swap compaction "
    "physically PURGES superseded versions (merge-on-write), so the "
    "steady-state table holds one row per vector regardless of "
    "re-embedding traffic while keeping the bucketed read layout. The "
    "quantizer stays FROZEN through updates — exactly the staleness "
    "scenario the maintenance audit's cell-skew signal monitors. "
    "Returns the final index (vec_id, cell); the oracle computes the "
    "latest-version one-pass assignment, so upsert-equals-rebuild is "
    "hash-checked exactly.",
)
def streaming_ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_index(
        spark,
        sf_dir,
        ANN_UPSERT_TABLE,
        N_UPSERT_SLICES,
        compact_every=UPSERT_COMPACT_EVERY,
        upsert=True,
    )


@register(
    "streaming_ann_index_delete",
    # The oracle replays the full CRUD schedule: the upsert arrival
    # plan (originals at ver = vec_id % 4, sign-flipped re-embeddings
    # of slices 0/1 at ver + 2), then a final tombstone slice deleting
    # vec_id % 4 == 2 at ver 4. Live = winners whose version exceeds
    # their newest delete marker; assignment over the live set. The
    # engine must converge through incremental appends, the delete-
    # marker side table, and tombstone-applying compactions.
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    versions AS (
        SELECT vec_id, e, CAST(vec_id % 4 AS INTEGER) AS ver FROM base
        UNION ALL
        SELECT vec_id, list_transform(e, x -> -x) AS e,
               CAST(vec_id % 4 + 2 AS INTEGER) AS ver
        FROM base WHERE vec_id % 4 < 2
    ),
    tombs AS (
        SELECT vec_id, CAST(4 AS INTEGER) AS dver FROM base WHERE vec_id % 4 = 2
    ),
    latest AS (
        SELECT vec_id, e, ver FROM (
            SELECT vec_id, e, ver,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY ver DESC
                   ) AS vrn
            FROM versions
        ) WHERE vrn = 1
    ),
    live AS (
        SELECT l.vec_id, l.e FROM latest l
        LEFT JOIN tombs t ON l.vec_id = t.vec_id
        WHERE t.vec_id IS NULL OR t.dver < l.ver
    ),
    cent AS (SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {ANN_CELLS_SQL}),
    scored AS (
        SELECT l.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY l.vec_id
                   ORDER BY list_dot_product(l.e, c.ce) /
                            (sqrt(list_dot_product(l.e, l.e)) *
                             sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                            c.cid
               ) AS rn
        FROM live l CROSS JOIN cent c
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cell FROM scored WHERE rn = 1
    """,
    doc="Streaming ANN index DELETE (beyond-reference — the removal path "
    "that completes the index CRUD story: items leave the catalog and "
    "their index entries must stop matching): the upsert arrival "
    "schedule plus a final tombstone slice (vec_id % 4 == 2 deleted at "
    "version 4). Keyed tombstones land in a SMALL delete-marker side "
    "table (the Iceberg delete-file shape — a bare key can't be routed "
    "into the cell-bucketed layout), written BEFORE the batch's index "
    "append so a replay can only duplicate markers (absorbed by the "
    "max-version aggregation), never lose them; the snapshot anti-joins "
    "markers newer than the winning version (a later re-insert revives "
    "the key), and every "
    f"{UPSERT_COMPACT_EVERY} appends the generation-swap compaction "
    "applies markers PHYSICALLY to the rewrite. Returns the final live "
    "index (vec_id, cell); the oracle computes the post-CRUD one-pass "
    "assignment, so delete-equals-rebuild is hash-checked exactly.",
)
def streaming_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_index(
        spark,
        sf_dir,
        ANN_DELETE_TABLE,
        N_DELETE_SLICES,
        compact_every=UPSERT_COMPACT_EVERY,
        upsert=True,
        deletes=True,
    )


# ---------------------------------------------------------------------------
# Two-level (hierarchical) coarse quantization — the ingest path PAST the
# flat-fold width cap.


def derive_group_width(n_cells: int) -> int:
    """Level-1 representative count for the hierarchical quantizer: the
    next power of two >= sqrt(n_cells). n_cells is itself always a power
    of two here (derive_rec_cells), so log2 is exact and the derivation
    is integer-exact on both engines (the SQL twin inside the
    ann_two_level_assign oracle uses the identical
    POWER(2, CEIL(LOG2(n)/2)) form)."""
    return 1 << math.ceil(math.log2(max(n_cells, 2)) / 2)


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Left-to-right fold — the exact evaluation order of the engines'
    aggregate/list_dot_product, so driver-side seed arithmetic lands on
    the same bits (the _norm convention)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _two_level_relations(
    emb: DataFrame, n_cells: int, n_reps: int
) -> tuple[DataFrame, DataFrame]:
    """The hierarchical quantizer as TWO single-row broadcast relations:

    - `__reps` (rid, re, nr): the n_reps smallest seeds, the level-1
      quantizer;
    - `__gcents` (cid, ce, nc, gid): every cell seed tagged with its
      GROUP = its own nearest representative (cos DESC, rid ASC) — the
      geometry-aware grouping that makes level-1 pruning informative (a
      cid-block grouping measured only 0.24-0.55 flat agreement; cells
      clustered under their nearest rep co-locate with the vectors that
      would choose them).

    All seed arithmetic (norms, the cell->rep grouping) runs driver-side
    over the bounded collected seed set with the engines' exact fold
    order, so the DuckDB oracle reproduces the grouping bit for bit."""
    spark = emb.sparkSession
    seeds = sorted(
        emb.filter(F.col("vec_id") < n_cells)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
        .collect(),
        key=lambda r: r.cid,
    )
    vecs = {int(r.cid): [float(x) for x in r.ce] for r in seeds}
    norms = {cid: math.sqrt(_fold_dot(v, v)) for cid, v in vecs.items()}
    reps = [cid for cid in sorted(vecs) if cid < n_reps]

    def _group(cid: int) -> int:
        best, best_cos = -1, None
        for rid in reps:
            cos = _fold_dot(vecs[cid], vecs[rid]) / (
                norms[cid] * norms[rid] + 1e-8
            )
            if best_cos is None or cos > best_cos:
                best, best_cos = rid, cos
        return best

    rep_rows = [(rid, vecs[rid], norms[rid]) for rid in reps]
    cell_rows = [(cid, vecs[cid], norms[cid], _group(cid)) for cid in sorted(vecs)]
    reps_df = spark.createDataFrame(
        [(rep_rows,)],
        schema="__reps array<struct<rid:int,re:array<double>,nr:double>>",
    )
    gcents_df = spark.createDataFrame(
        [(cell_rows,)],
        schema=(
            "__gcents array<struct<cid:int,ce:array<double>,nc:double,gid:int>>"
        ),
    )
    # r16: the driver-resident seed rows ride beside the relations so
    # assignment/probe sites can run the Arrow-vectorized hierarchical
    # twin (functions/nearcell.py) instead of the interpreted HOF
    reps_df._sg_seeds = rep_rows  # noqa: SLF001 — engine-internal tag
    gcents_df._sg_seeds = cell_rows  # noqa: SLF001
    return reps_df, gcents_df


def _two_level_seed_rows(reps: DataFrame, gcents: DataFrame):
    """(rep_rows, cell_rows) when both relations carry their seed tags,
    else None — the dispatch guard for the vectorized hierarchical twin."""
    rep_rows = getattr(reps, "_sg_seeds", None)
    cell_rows = getattr(gcents, "_sg_seeds", None)
    if rep_rows is not None and cell_rows is not None:
        return rep_rows, cell_rows
    return None


class TwoLevel(NamedTuple):
    """The hierarchical coarse quantizer as a first-class value the
    maintenance/migration machinery can carry in place of the flat
    `__cents` relation (r16 — VERDICT r15 #2): ``assign_batch``
    dispatches on this type, so ``maintain_index``,
    ``migrate_index_table`` and every loop built on them inherit the
    width-insensitive hierarchical ingest without a second write path."""

    reps: DataFrame
    gcents: DataFrame


def two_level_quantizer(emb: DataFrame, n_cells: int) -> TwoLevel:
    """Build the two-level quantizer over ``emb``'s seed prefix — the
    derive_group_width(n_cells) representative row plus the
    geometry-grouped cell row (see _two_level_relations)."""
    return TwoLevel(*_two_level_relations(emb, n_cells, derive_group_width(n_cells)))


def _two_level_cells(vec_col: str, k: int):
    """Column expression: the top-k hierarchically-selected quantizer
    cells of `vec_col` (cos DESC, cid ASC within the probed groups) —
    the SEARCH side of the two-level quantizer: a query probes its
    ANN_GROUP_PROBE best level-1 groups and then its k best cells
    inside them, the hierarchical analogue of the flat _nearest_cells
    multiprobe. k=1 is the assignment path (_two_level_cell)."""

    from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
        EPS,
        dot,
    )

    def _scored(arr, vecf, normf, idf, ne):
        return F.transform(
            arr,
            lambda c: F.struct(
                (dot(F.col(vec_col), c[vecf]) / (ne * c[normf] + F.lit(EPS))).alias(
                    "cos"
                ),
                (-c[idf]).alias("negid"),
            ),
        )

    return F.element_at(
        F.transform(
            F.array(F.sqrt(dot(vec_col, vec_col))),
            lambda ne: F.element_at(
                F.transform(
                    # let-bind the TOP-ANN_GROUP_PROBE winning rep ids
                    # (level-1 multiprobe: cos DESC, rid ASC)
                    F.array(
                        F.transform(
                            F.slice(
                                F.reverse(
                                    F.array_sort(
                                        _scored(
                                            F.col("__reps"), "re", "nr", "rid", ne
                                        )
                                    )
                                ),
                                1,
                                ANN_GROUP_PROBE,
                            ),
                            lambda s: -s["negid"],
                        )
                    ),
                    lambda gids: F.transform(
                        F.slice(
                            F.reverse(
                                F.array_sort(
                                    _scored(
                                        F.filter(
                                            F.col("__gcents"),
                                            lambda c: F.array_contains(
                                                gids, c["gid"]
                                            ),
                                        ),
                                        "ce",
                                        "nc",
                                        "cid",
                                        ne,
                                    )
                                )
                            ),
                            1,
                            k,
                        ),
                        lambda s: -s["negid"],
                    ),
                ),
                1,
            ),
        ),
        1,
    )


def _two_level_cell(vec_col: str):
    """Column expression: the hierarchically-selected quantizer cell of
    `vec_col` — level 1 picks the top-ANN_GROUP_PROBE representatives
    from the broadcast `__reps` row (cos DESC, rid ASC), level 2 picks
    the best cell among the probed groups' members from the broadcast
    `__gcents` row (cos DESC, cid ASC) — the k=1 case of
    _two_level_cells. Work per row: ~(1 + ANN_GROUP_PROBE) *
    sqrt(n_cells) interpreted dots instead of the flat fold's n_cells
    (measured at the 2M replica: the flat fold runs ~1.5k rows/s across
    32 threads at 256 cells and ~147 rows/s at 2048 — linear in width;
    tools/probe_ann_two_level.py measures the hierarchical rate). The
    price is approximation: the true nearest cell can live outside the
    probed groups — the same pruning bet IVF serving makes at the cell
    level, measured as flat-agreement in the probe and floored in
    tests. Selection is deterministic given the seeds, so the DuckDB
    oracle replays it exactly. The row norm and the winning rep ids are
    let-bound via single-element transforms (higher-order functions
    have no CSE)."""
    return F.element_at(_two_level_cells(vec_col, 1), 1)


def ivf_two_level_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell): the full corpus assigned through the two-level
    quantizer — one map-side hierarchical selection per row against the
    two broadcast seed rows; the one exchange is the pinned round-robin
    repartition for parallelism (the _ivf_assign_cells convention)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    n_cells = derive_ann_cells(sf_dir)
    n_reps = derive_group_width(n_cells)
    reps, gcents = _two_level_relations(emb, n_cells, n_reps)
    two_rows = _two_level_seed_rows(reps, gcents)
    if two_rows is not None:
        # r16: Arrow-vectorized hierarchical twin (functions/nearcell.py)
        from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
            two_level_cell_udf,
        )

        cell = two_level_cell_udf(*two_rows, ANN_GROUP_PROBE)(F.col("e"))
        return (
            emb.repartition(shuffle_partitions(spark))
            .select("vec_id", cell.alias("cell"))
        )
    return (
        emb.repartition(shuffle_partitions(spark))
        .crossJoin(F.broadcast(gcents))
        .crossJoin(F.broadcast(reps))
        .select("vec_id", _two_level_cell("e").alias("cell"))
    )


def _group_sql(cells_sql: str) -> str:
    """SQL twin of derive_group_width over any width scalar (the width
    is always a power of two here, so LOG2 is exact)."""
    return (
        f"CAST(POWER(2, CEIL(LOG2(CAST(GREATEST({cells_sql}, 2) AS DOUBLE)) / 2)) "
        "AS BIGINT)"
    )


# the level-1 width as the SAME integer-exact SQL derivation (n_cells is
# a power of two, so LOG2 is exact)
ANN_GROUP_SQL = _group_sql(ANN_CELLS_SQL)


def two_level_serve(
    queries_df: DataFrame, index_df: DataFrame, quant: TwoLevel
) -> DataFrame:
    """(query_id, rank, neighbor_id): answer query vectors from a
    vector-bearing index through the hierarchical probe (VERDICT r15
    #3 — the serving side of the two-level quantizer as a reusable
    piece, so it can serve the MAINTAINED CRUD artifact, not only an
    inline-built assignment). Query side: top-ANN_GROUP_PROBE level-1
    groups, then the top-SEARCH_NPROBE cells inside them
    (_two_level_cells), exploded to one row per probed cell — map-side
    against the two broadcast seed rows. Candidates are fetched on the
    cell key (broadcast under the ceiling, SMJ over the bucketed files
    past it — zero index-side exchange either way), ranked by exact
    cosine, top-SEARCH_TOPK per query, self-matches excluded.
    ``queries_df``: (vec_id, e); ``index_df``: (neighbor_id, cell, ne)."""
    from pyspark.sql import Window

    from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
        EPS,
        dot,
    )

    two_rows = _two_level_seed_rows(quant.reps, quant.gcents)
    if two_rows is not None:
        # r16: Arrow-vectorized hierarchical probe (functions/nearcell.py)
        from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
            two_level_cells_udf,
        )

        probes = queries_df.select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.explode(
                two_level_cells_udf(*two_rows, ANN_GROUP_PROBE, SEARCH_NPROBE)(
                    F.col("e")
                )
            ).alias("cell"),
        )
    else:
        probes = (
            queries_df.crossJoin(F.broadcast(quant.gcents))
            .crossJoin(F.broadcast(quant.reps))
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("e").alias("qe"),
                F.explode(_two_level_cells("e", SEARCH_NPROBE)).alias("cell"),
            )
        )
    # r16 (guide §2.3): per-side norms fold once below the cell join —
    # bit-identical ranking, one fold per candidate pair instead of three
    probes = probes.withColumn("qn", F.sqrt(dot("qe", "qe")))
    indexed = index_df.withColumn("nn", F.sqrt(dot("ne", "ne")))
    cands = probes.join(indexed, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    score = dot("qe", "ne") / (F.col("qn") * F.col("nn") + F.lit(EPS))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SEARCH_TOPK)
        .select("query_id", "rank", "neighbor_id")
    )


@register(
    "ann_two_level_assign",
    # The oracle replays the grouping AND both selection levels:
    # reps = the first sqrt(n) seeds; every cell grouped under its own
    # nearest rep (cos DESC, rid ASC); level 1 = each vector's top-
    # ANN_GROUP_PROBE reps; level 2 = best cell among the probed groups
    # (cos DESC, cid ASC). Deterministic given the seeds, so the
    # hierarchical assignment is exact-checked even though it is an
    # APPROXIMATION of the flat argmax (agreement vs flat is the
    # separately measured dial — tools/probe_ann_two_level.py).
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    width AS (SELECT {ANN_CELLS_SQL} AS n),
    gw AS (SELECT {ANN_GROUP_SQL} AS g),
    cent AS (
        SELECT vec_id AS cid, e AS ce FROM base
        WHERE vec_id < (SELECT n FROM width)
    ),
    reps AS (SELECT cid AS rid, ce AS re FROM cent WHERE cid < (SELECT g FROM gw)),
    grouped AS (
        SELECT cid, ce, rid AS gid FROM (
            SELECT c.cid, c.ce, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.cid
                       ORDER BY list_dot_product(c.ce, r.re) /
                                (sqrt(list_dot_product(c.ce, c.ce)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM cent c CROSS JOIN reps r
        ) WHERE rn = 1
    ),
    l1 AS (
        SELECT vec_id, rid AS gid FROM (
            SELECT b.vec_id, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.e, r.re) /
                                (sqrt(list_dot_product(b.e, b.e)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM base b CROSS JOIN reps r
        ) WHERE rn <= {ANN_GROUP_PROBE}
    ),
    l2 AS (
        SELECT vec_id, cid FROM (
            SELECT b.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.e, c.ce) /
                                (sqrt(list_dot_product(b.e, b.e)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM l1 w
            JOIN base b ON b.vec_id = w.vec_id
            JOIN grouped c ON c.gid = w.gid
        ) WHERE rn = 1
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cell FROM l2
    """,
    doc="Two-level (hierarchical) coarse quantization (beyond-reference "
    "— the INGEST scale path past the flat fold's width cap: the flat "
    "per-row fold is linear in quantizer width, measured 1.5k rows/s "
    "at 256 cells and 147 rows/s at 2048 on the 2M replica, while "
    "production widths grow as sqrt(corpus)). Level 1 scores the "
    "~sqrt(n_cells) representatives; every cell is grouped under its "
    "own nearest rep (geometry-aware, driver-side over the bounded "
    f"seed set); level 2 scores only the top-{ANN_GROUP_PROBE} probed "
    "groups' cells — O((1+probe)*sqrt(n_cells)) dots per row, "
    "width-insensitive ingest. Deterministic given the seeds, so the "
    "DuckDB oracle replays the grouping and both selection levels "
    "exactly; agreement vs the flat argmax is the separately measured "
    "recall-class dial.",
)
def ann_two_level_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_two_level_assign(spark, sf_dir)


@register(
    "ann_two_level_search",
    # The serving side of the hierarchical quantizer, exact-checked end
    # to end: the oracle replays the corpus grouping + assignment (the
    # ann_two_level_assign pipeline), the QUERY side's hierarchical
    # probe (top-ANN_GROUP_PROBE reps, then top-SEARCH_NPROBE cells
    # within the probed groups — cos DESC, cid ASC across their union,
    # the _two_level_cells sort order), the cell-key candidate fetch,
    # and the exact cosine top-k (cos DESC, neighbor ASC; self
    # excluded). Integer ranks ride the hash; no float columns.
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    width AS (SELECT {ANN_CELLS_SQL} AS n),
    gw AS (SELECT {ANN_GROUP_SQL} AS g),
    cent AS (
        SELECT vec_id AS cid, e AS ce FROM base
        WHERE vec_id < (SELECT n FROM width)
    ),
    reps AS (SELECT cid AS rid, ce AS re FROM cent WHERE cid < (SELECT g FROM gw)),
    grouped AS (
        SELECT cid, ce, rid AS gid FROM (
            SELECT c.cid, c.ce, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.cid
                       ORDER BY list_dot_product(c.ce, r.re) /
                                (sqrt(list_dot_product(c.ce, c.ce)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM cent c CROSS JOIN reps r
        ) WHERE rn = 1
    ),
    corpus_l1 AS (
        SELECT vec_id, rid AS gid FROM (
            SELECT b.vec_id, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.e, r.re) /
                                (sqrt(list_dot_product(b.e, b.e)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM base b CROSS JOIN reps r
        ) WHERE rn <= {ANN_GROUP_PROBE}
    ),
    corpus AS (
        SELECT vec_id AS neighbor_id, ne, cell FROM (
            SELECT b.vec_id, b.e AS ne, c.cid AS cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.e, c.ce) /
                                (sqrt(list_dot_product(b.e, b.e)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM corpus_l1 w
            JOIN base b ON b.vec_id = w.vec_id
            JOIN grouped c ON c.gid = w.gid
        ) WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS query_id, e AS qe FROM base
        WHERE vec_id % {QUERY_MOD} = {QUERY_REM}
    ),
    query_l1 AS (
        SELECT query_id, qe, rid AS gid FROM (
            SELECT q.query_id, q.qe, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qe, r.re) /
                                (sqrt(list_dot_product(q.qe, q.qe)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM queries q CROSS JOIN reps r
        ) WHERE rn <= {ANN_GROUP_PROBE}
    ),
    qcells AS (
        SELECT query_id, qe, cid AS cell FROM (
            SELECT w.query_id, w.qe, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY w.query_id
                       ORDER BY list_dot_product(w.qe, c.ce) /
                                (sqrt(list_dot_product(w.qe, w.qe)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM query_l1 w
            JOIN grouped c ON c.gid = w.gid
        ) WHERE rn <= {SEARCH_NPROBE}
    ),
    ranked AS (
        SELECT qc.query_id, co.neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY qc.query_id
                   ORDER BY list_dot_product(qc.qe, co.ne) /
                            (sqrt(list_dot_product(qc.qe, qc.qe)) *
                             sqrt(list_dot_product(co.ne, co.ne)) + 1e-8) DESC,
                            co.neighbor_id
               ) AS rank
        FROM qcells qc JOIN corpus co USING (cell)
        WHERE co.neighbor_id != qc.query_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id
    FROM ranked WHERE rank <= {SEARCH_TOPK}
    """,
    doc="Hierarchical vector SEARCH through the two-level quantizer "
    "(beyond-reference — the serving side of ann_two_level_assign, "
    "exact-checked): the corpus is assigned hierarchically "
    "(vector-bearing IVF layout), each query probes its top-"
    f"{ANN_GROUP_PROBE} level-1 groups and then its top query-nprobe "
    "cells inside them (the _two_level_cells multiprobe), candidates "
    "are fetched on the cell key, and the answer is an exact cosine "
    "top-k (self-matches excluded). At replica scale this is the "
    "16.2 ms/query wide-width regime the flat fold cannot build "
    "(SCALE_r15.json ann_two_level_serve_1000x); the oracle replays "
    "grouping, both per-side selection levels, the fetch, and the "
    "ranking, so the served hierarchical answer is hash-checked row "
    "by row.",
)
def ann_two_level_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    n_cells = derive_ann_cells(sf_dir)
    quant = two_level_quantizer(emb, n_cells)
    two_rows = _two_level_seed_rows(quant.reps, quant.gcents)
    if two_rows is not None:
        # r16: Arrow-vectorized hierarchical assignment (nearcell.py)
        from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
            two_level_cell_udf,
        )

        corpus = emb.repartition(shuffle_partitions(spark)).select(
            F.col("vec_id").alias("neighbor_id"),
            two_level_cell_udf(*two_rows, ANN_GROUP_PROBE)(F.col("e")).alias(
                "cell"
            ),
            F.col("e").alias("ne"),
        )
    else:
        corpus = (
            emb.repartition(shuffle_partitions(spark))
            .crossJoin(F.broadcast(quant.gcents))
            .crossJoin(F.broadcast(quant.reps))
            .select(
                F.col("vec_id").alias("neighbor_id"),
                _two_level_cell("e").alias("cell"),
                F.col("e").alias("ne"),
            )
        )
    queries = emb.filter(F.pmod("vec_id", F.lit(QUERY_MOD)) == QUERY_REM)
    return two_level_serve(queries, corpus, quant)
