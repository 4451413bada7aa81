"""Sinks: partitioned parquet, text (reference F10 lives in
engine.mapreduce.runner), and bucketed tables for co-located joins.

Scale notes:
- Partitioned parquet (`partitionBy`) gives partition pruning on read —
  the write-side half of predicate pushdown. Choose low-cardinality
  partition columns (date, region), never high-cardinality keys.
- Bucketed tables pre-shuffle ONCE at write time; subsequent joins on
  the bucket key between co-bucketed tables need NO exchange — the
  pattern that turns a recurring 100 TB shuffle into a one-time cost.
  (Asserted in tests/test_sinks.py: the join plan has zero shuffle
  exchanges.)
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from engine.io import local_frame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    bloom_filter_cols: list[str] | None = None,
    bloom_filter_ndv: int | None = None,
) -> None:
    """Parquet sink with optional per-column bloom filters.

    Bloom filters are the point-lookup half of data skipping: min/max
    row-group stats prune RANGE predicates, but on a high-cardinality
    key with no sort order (doc_id, user_id, content hash) every row
    group's [min,max] spans the whole domain and stats prune nothing.
    A per-column bloom filter lets the scanner skip row groups for
    ``key = literal`` probes at ~1% false-positive cost — the right
    layout for a 100 TB corpus that serves "fetch this doc_id" reads
    without maintaining a global sort. Size the filter with
    ``bloom_filter_ndv`` ≈ distinct keys per row group; the default
    (parquet-mr's 1M) wastes ~1.2 MB per column per row group when the
    real NDV is small.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    for c in bloom_filter_cols or []:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if bloom_filter_ndv:
            w = w.option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_filter_ndv)
            )
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) catalog table."""
    w = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def _publish_via_rename(staging: str, path: str, prefix: str) -> None:
    """Atomically publish ``staging`` at ``path`` via two renames: the
    current dir (if any) moves aside, staging moves in, and a failed
    second rename rolls the old dir back — a reader only ever sees the
    old directory or the new one, never a partial state. Shared by
    compact_parquet and upsert_parquet so the publish protocol cannot
    drift between them (the two inline copies had already diverged in
    their existence guards). Local-filesystem rename semantics; on
    object stores use a transactional table format instead."""
    import os
    import shutil
    import tempfile

    retired = tempfile.mktemp(prefix=f"{prefix}-old-", dir=str(Path(path).parent))
    if os.path.isdir(path):
        os.rename(path, retired)
    try:
        os.rename(staging, path)
    except OSError:
        if os.path.isdir(retired):
            os.rename(retired, path)  # roll back: republish the old data
        raise
    shutil.rmtree(retired, ignore_errors=True)


def _hive_partition_cols(path: str) -> list[str]:
    """Partition column names of a Hive-layout directory (outermost
    first), [] for a flat layout — read from the ``key=value``
    directory names down one branch."""
    cols: list[str] = []
    p = Path(path)
    while True:
        subs = [d for d in p.iterdir() if d.is_dir() and "=" in d.name]
        if not subs:
            return cols
        cols.append(subs[0].name.split("=", 1)[0])
        p = subs[0]


def _file_footer_bytes(p: str) -> int:
    """Parquet data bytes of one file from its FOOTER (row-group
    compressed column sizes); falls back to st_size on an unreadable
    footer. Footer bytes, not st_size, because in the small-files
    pathology per-file footer/padding overhead dominates raw sizes and
    would inflate every cold directory's salt width."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(p).metadata
        return sum(
            md.row_group(i).column(j).total_compressed_size
            for i in range(md.num_row_groups)
            for j in range(md.num_columns)
        )
    except Exception:
        return int(Path(p).stat().st_size)


def _dir_bytes_driver(base: str, files: list) -> dict:
    """Per-partition-directory data bytes, footers read on the driver
    (fine for the directory counts a periodic compactor sees)."""
    out: dict[str, int] = {}
    for f in files:
        rel = Path(f).relative_to(base).parent.as_posix()
        out[rel] = out.get(rel, 0) + _file_footer_bytes(str(f))
    return out


def _dir_bytes_distributed(spark: SparkSession, base: str) -> dict:
    """The scale-safe listing pass: the LISTING ITSELF runs through
    Spark's binaryFile source (path metadata only — `content` is never
    in the required schema, so no file data is read, and past
    `spark.sql.sources.parallelPartitionDiscoveryThreshold` directories
    the listing RPCs themselves run as a distributed job), so the
    driver never materializes a per-file Python list. Executors open
    the footers (the per-file open+parse that dominates at millions of
    files) and emit (directory, bytes) partials, which one tiny
    aggregate reduces to a |directories|-row result. The collect is
    bounded by the directory count, never the file count."""
    import pandas as pd

    from pyspark.sql import functions as F

    paths_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(base)
        .select(F.col("path").alias("p"))
    )

    def scan(batches):
        from urllib.parse import unquote, urlparse

        for batch in batches:
            part: dict[str, int] = {}
            for p in batch["p"]:
                # binaryFile yields Hadoop URIs (file:/…, possibly
                # percent-encoded); footer reads need the raw FS path.
                u = urlparse(p)
                local = unquote(u.path) if u.scheme else p
                rel = Path(local).relative_to(base).parent.as_posix()
                part[rel] = part.get(rel, 0) + _file_footer_bytes(local)
            yield pd.DataFrame(
                {"d": list(part.keys()), "b": list(part.values())}
            )

    rows = (
        paths_df.mapInPandas(scan, "d string, b long")
        .groupBy("d")
        .agg(F.sum("b").alias("b"))
        .collect()
    )
    return {r["d"]: int(r["b"]) for r in rows}


# Above this many files, compact_parquet moves the footer reads off the
# driver. The threshold is deliberately conservative: a driver can open
# a few thousand local footers in seconds, while the distributed path
# costs one extra (tiny) Spark job.
COMPACT_DRIVER_LISTING_MAX_FILES = 4096


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_driver_files: int = COMPACT_DRIVER_LISTING_MAX_FILES,
) -> int:
    """Rewrite a parquet directory into ~target-size files; returns the
    new file count.

    Small-files pathology: a streaming sink or over-partitioned write
    leaves thousands of KB-scale files; every downstream scan then pays
    per-file open/footer cost and the driver pays listing cost. The fix
    is a periodic rewrite sized by DATA VOLUME, not partition count.
    Writes to a staging dir first, then publishes via two renames (old
    aside, staging in): the published path itself only ever changes by
    rename, so a reader either sees the old directory or the new one,
    and a crash leaves the data recoverable in one of the two dirs —
    never a missing path mid-``rmtree``. (On a real deployment prefer a
    table format with a transactional commit; same-filesystem rename is
    the strongest primitive a plain directory sink has.)

    Hive-partitioned layouts are PRESERVED: partition columns are
    detected from the ``key=value`` directory names and the rewrite
    re-emits them with ``partitionBy``, clustered by (partition cols +
    a bounded per-partition salt) so each directory compacts to
    ~target-size files. The salt width is ceil(directory_bytes /
    target_file_bytes), computed from the file LISTING the function
    already performs — genuinely metadata-only, zero Spark pre-pass
    jobs — so a cold partition still compacts to ONE file while a hot
    partition fans out across ceil(its_bytes / target) tasks instead
    of funnelling through a single task (the skew/OOM point a pure
    partition-column clustering has at scale). (A naive flat rewrite
    would read the partition columns back as data columns and silently
    destroy partition pruning plus every sibling that expects the
    layout — dynamic overwrite, targeted key deletion, the streaming
    sinks.)
    """
    import math
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.read.parquet(path)
    pcols = _hive_partition_cols(path)
    # The listing feeds everything: total data bytes (global file
    # count) and per-partition-directory data bytes (salt widths) —
    # from the parquet FOOTERS, a true metadata-only pass with zero
    # data scan. The driver walks names only up to the threshold (the
    # rglob short-circuits — it never accumulates a million-entry
    # list); past it, BOTH the listing and the per-file footer
    # OPEN+PARSE — the costs that explode at millions of files — run
    # through Spark, reduced to a |directories|-row aggregate.
    files: list = []
    over_threshold = False
    for f in Path(path).rglob("*.parquet"):
        files.append(f)
        if len(files) > max_driver_files:
            over_threshold = True
            break
    if over_threshold:
        dir_bytes = _dir_bytes_distributed(spark, path)
    else:
        dir_bytes = _dir_bytes_driver(path, files)
    total_bytes = sum(dir_bytes.values())
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    staging = tempfile.mkdtemp(prefix="compact-", dir=str(Path(path).parent))
    try:
        if pcols:
            # Per-directory salt width = ceil(dir_bytes / target): the
            # quantity we actually want (output files per directory),
            # measured directly instead of estimated via a global
            # bytes/row ratio.
            widths = local_frame(
                spark,
                [
                    (d, max(1, math.ceil(b / target_file_bytes)))
                    for d, b in sorted(dir_bytes.items())
                ],
                "_dir string, _w int",
            )
            # Salt input: atomic data columns only (xxhash64 rejects
            # MAP columns, and deep struct/array hashing buys nothing
            # for a spread). A table with no atomic non-partition
            # column falls back to the row's stable position id.
            atomic = {
                f.name
                for f in df.schema.fields
                if not isinstance(
                    f.dataType, (T.MapType, T.ArrayType, T.StructType)
                )
            }
            data_cols = [
                c for c in df.columns if c not in pcols and c in atomic
            ]
            salt_src = (
                F.xxhash64(*data_cols)
                if data_cols
                else F.monotonically_increasing_id()
            )
            # Join key: the row's source partition DIRECTORY, taken
            # from the _metadata.file_path's trailing key=value
            # segments.  Joining on the directory string (not the
            # typed partition columns) sidesteps both the NULL
            # partition (__HIVE_DEFAULT_PARTITION__ is just another
            # string) and type-inference round-trips ("05" dirs that
            # read back as int 5).  slice(-n) guards against k=v
            # segments in the base path itself; the left join +
            # coalesce keeps any row whose directory the listing
            # missed (width 1).
            seg = F.regexp_extract_all(
                F.col("_metadata.file_path"), F.lit(r"/([^/=]+=[^/]*)"), 1
            )
            # _metadata.file_path is a URI whose segments are
            # percent-encoded ("v 1" dir → "v%201"), while dir_bytes
            # keys are raw filesystem names — without decoding, every
            # row of such a directory misses the broadcast join and
            # coalesces to width 1, re-creating the single-task hot
            # partition this rewrite exists to prevent.  url_decode
            # treats '+' as space (form encoding), but URI path
            # encoding leaves '+' literal, so shield it first.
            dir_key = F.url_decode(
                F.regexp_replace(
                    F.array_join(F.slice(seg, -len(pcols), len(pcols)), "/"),
                    r"\+",
                    "%2B",
                )
            )
            # Explicit width: a number-less repartition is fair game
            # for AQE coalescing, which would re-merge the salt fanout.
            salted = (
                df.withColumn("_dir", dir_key)
                .join(F.broadcast(widths), "_dir", "left")
                .withColumn("_w", F.coalesce(F.col("_w"), F.lit(1)))
                .withColumn("_salt", F.pmod(salt_src, F.col("_w")))
                .repartition(n_files, *pcols, "_salt")
                .drop("_w", "_salt", "_dir")
            )
            salted.write.mode("overwrite").partitionBy(*pcols).parquet(
                staging
            )
        else:
            df.repartition(n_files).write.mode("overwrite").parquet(staging)
        _publish_via_rename(staging, path, "compact")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return n_files


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    version_col: str,
) -> int:
    """Keyed upsert (CDC merge) into a plain parquet directory; returns
    the row count of the published snapshot.

    Semantics of ``MERGE INTO``'s upsert core without a table format:
    for each key, the surviving row is the one with the highest
    ``version_col`` (updates win ties, so a same-version republish is
    idempotent). New keys insert, existing keys update.

    Scale shape: one shuffle of base ∪ updates keyed by ``key_cols``
    with a max_by per key — cost scales with snapshot size, the same
    asymptotics as a table-format MERGE's full-partition rewrite path.
    At 100 TB you'd partition the directory (e.g. by date) and merge
    only partitions the updates touch; a transactional table format
    (Iceberg/Delta) replaces the rename publish with a metadata commit.
    Publication reuses the compact_parquet rename protocol: readers see
    the old snapshot or the new one, never a partial directory.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tagged_updates = updates.withColumn("__src", F.lit(1))
    if os.path.isdir(path):
        base = spark.read.parquet(path).withColumn("__src", F.lit(0))
        merged = base.unionByName(tagged_updates)
    else:
        merged = tagged_updates
    others = [
        c for c in merged.columns if c not in (*key_cols, version_col, "__src")
    ]
    # max_by over a (version, src, payload) struct: highest version
    # wins, updates beat base on equal versions, and equal-version
    # duplicates WITHIN a batch resolve by payload ordering — fully
    # deterministic and order-independent (an ordering key of
    # (version, src) alone would leave within-batch ties to Spark's
    # arbitrary max_by pick).
    pick = F.max_by(
        F.struct(version_col, *others), F.struct(version_col, "__src", *others)
    ).alias("__row")
    snapshot = (
        merged.groupBy(*key_cols)
        .agg(pick)
        .select(*key_cols, "__row.*")
    )
    parent = str(Path(path).parent)
    os.makedirs(parent, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="upsert-", dir=parent)
    try:
        snapshot.write.mode("overwrite").parquet(staging)
        n_rows = spark.read.parquet(staging).count()
        _publish_via_rename(staging, path, "upsert")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return n_rows


def apply_changeset_partitioned(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    key_cols: list[str],
    changeset: DataFrame,
) -> int:
    """Apply an upsert CHANGESET to a partitioned parquet table — the
    MERGE INTO application half of incremental rollup maintenance
    (``rollup_upsert_cells`` computes the minimal write set; this
    writes it). Each changeset row (already in the STORED schema,
    keyed by ``key_cols``) updates its existing cell or inserts a new
    one; ONLY partitions holding a changed key are rewritten, every
    other partition's files stay byte-untouched. Returns the number of
    partitions rewritten.

    Plan: the changeset's partition values (bounded by the changeset,
    which is bounded by cells-the-delta-touched) prune the base scan to
    the affected partitions; survivors (affected-partition rows whose
    key is NOT in the changeset) union the changeset rows and
    republish via dynamic partition overwrite. At 100 TB a daily
    refresh therefore rewrites the handful of partitions with arrivals
    — never the rollup. Re-applying the same changeset rewrites the
    same partitions to the same contents (idempotent).

    Durability follows ``delete_keys_partitioned``: the merged rows are
    STAGED to a sibling directory before the target is touched, so the
    overwrite never races its own input and a mid-write failure leaves
    the original table intact.
    """
    import shutil

    from pyspark.sql import functions as F

    touched = changeset.select(*partition_by).distinct().collect()
    if not touched:
        return 0
    base = spark.read.parquet(path)
    pred = None
    for row in touched:
        clause = None
        for c in partition_by:
            # eqNullSafe: a NULL-valued partition must still be
            # selected (plain == yields NULL and its old cell rows
            # would duplicate against the changeset's replacements).
            p = F.col(c).eqNullSafe(F.lit(row[c]))
            clause = p if clause is None else (clause & p)
        pred = clause if pred is None else (pred | clause)
    survivors = base.filter(pred).join(
        F.broadcast(changeset.select(*key_cols).distinct()),
        key_cols,
        "left_anti",
    )
    merged = survivors.unionByName(changeset.select(*base.columns))
    staging = path.rstrip("/") + ".__merge_staging__"
    try:
        merged.write.mode("overwrite").parquet(staging)
        staged = spark.read.parquet(staging)
        overwrite_partitions_dynamic(staged, path, partition_by)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return len(touched)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Overwrite ONLY the Hive partitions present in ``df``, leaving
    every other partition untouched — the idempotent daily-reload
    primitive (re-running yesterday's load replaces yesterday's
    partitions, never truncates the table). Static overwrite (the
    default) would drop ALL partitions first; at 100 TB that is the
    difference between rewriting one day and rewriting three years.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-cluster the data across ``n_files`` parquet files and
    sort within each, so every file (and row group) carries a TIGHT,
    pairwise-disjoint [min, max] on the cluster columns. Scans with a
    predicate on those columns then skip whole files via footer stats
    — the sort-based half of data skipping (blooms cover point
    lookups on unsorted keys; this covers ranges). At 100 TB this is
    the Z-order-lite layout for one dominant filter dimension:
    repartitionByRange is a single shuffle, and AQE keeps the output
    files balanced even with skewed cluster keys."""
    cols = [df[c] for c in cluster_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    bits: int = 12,
    mode: str = "overwrite",
) -> None:
    """Z-order-cluster the data across ``n_files`` parquet files: each
    cluster column is quantized to ``bits``-bit cells between its
    observed min and max, the cells' bits are interleaved into one
    Morton code, and files are range-partitioned + sorted by that code.
    Because the Z-curve preserves locality in EVERY interleaved
    dimension, each file's footer carries a tight [min, max] on ALL
    cluster columns at once — so scans filtering on any single one of
    them (or a box over several) skip whole files. That is what
    single-column ``write_range_clustered`` cannot do: sorting by
    user_id makes every file span the full value range, so a
    value-only predicate reads 100% of a 100 TB table; Z-ordering by
    (user_id, value) lets both predicates skip.

    Cost at scale: one O(1)-row stats pass + one range shuffle —
    identical shape to the single-column layout. The Morton code is a
    pure JVM-side bit expression (no UDFs), ``bits * len(cluster_cols)``
    must fit a signed 64-bit long, and nulls sort first (cell 0).
    Columns must be numeric (cast dates/timestamps beforehand).
    """
    from pyspark.sql import functions as F

    ncols = len(cluster_cols)
    if ncols < 2:
        raise ValueError("z-order needs >=2 columns; use write_range_clustered")
    if bits * ncols > 63:
        raise ValueError(f"bits*ncols = {bits * ncols} exceeds a signed long")

    # One driver-visible row of 2*ncols scalars (within the sink
    # module's documented O(1)/O(partitions) driver-data budget).
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn{i}") for i, c in enumerate(cluster_cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx{i}") for i, c in enumerate(cluster_cols)],
    ).first()

    mask = (1 << bits) - 1
    zero = F.lit(0).cast("long")
    z = zero
    for i, c in enumerate(cluster_cols):
        mn = stats[f"mn{i}"]
        mx = stats[f"mx{i}"]
        if mn is None or mx is None or mx == mn:
            continue  # constant/all-null column: contributes 0 bits
        scaled = (
            (F.coalesce(F.col(c).cast("double"), F.lit(mn)) - F.lit(mn))
            / F.lit(mx - mn)
            * F.lit(float(mask))
        )
        q = F.greatest(zero, F.least(F.lit(mask).cast("long"), F.floor(scaled).cast("long")))
        for b in range(bits):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * ncols + i))

    zcol = "__zorder__"
    (
        df.withColumn(zcol, z)
        .repartitionByRange(n_files, F.col(zcol))
        .sortWithinPartitions(zcol)
        .drop(zcol)
        .write.mode(mode)
        .parquet(path)
    )


def materialize_checkpoint(
    df: DataFrame, path: str, format: str = "parquet"
) -> DataFrame:
    """Durable lineage barrier: write the frame, read it back. Long
    multi-stage pipelines (dedup → filter → split → pack) otherwise
    carry their entire lineage — a lost executor late in stage 9
    recomputes from the scan, and iterative plans grow without bound.
    A parquet barrier caps recomputation at the barrier, survives
    driver restarts (unlike .localCheckpoint()), and the barrier file
    doubles as the restart point for the next pipeline run."""
    df.write.mode("overwrite").format(format).save(path)
    return df.sparkSession.read.format(format).load(path)


def delete_keys_partitioned(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    key_col: str,
    keys_df: DataFrame,
) -> int:
    """Targeted row deletion from a partitioned parquet table (the
    GDPR/right-to-be-forgotten primitive): rewrite ONLY the partitions
    that contain a doomed key, leave every other partition's files
    untouched.

    Plan: one pruned pass finds the affected partition values (an
    inner join against the broadcast-sized key set, aggregated to the
    partition columns); a second pass reads JUST those partitions
    (partition-pruned scan), anti-joins the keys away, and republishes
    them via dynamic partition overwrite. At 100 TB deleting one
    user's rows costs a scan of the partitions they touched — never a
    table rewrite. Deletes are idempotent: re-running with the same
    keys rewrites the same partitions to the same contents.

    Returns the number of partitions rewritten. ``keys_df`` must have
    exactly one column named ``key_col`` (it is broadcast — key sets
    are assumed deletion-request-sized, not corpus-sized).

    Durability: the surviving rows are STAGED to a sibling directory
    before the target is touched — overwriting a path while a live
    plan still reads the same path is undefined behavior on every
    filesystem, and a mid-write failure would otherwise corrupt the
    only copy. Emptied-partition directories are removed through the
    Hadoop FileSystem API (works on HDFS/S3/local alike, unlike
    shutil) and their removal is verified, so a 'deleted' key can
    never remain readable because a cleanup silently no-opped.
    """
    from pyspark.sql import functions as F

    table = spark.read.parquet(path)
    # One row per affected partition, carrying the partition's REAL
    # directory (from input_file_name, not reconstructed): Hive escapes
    # special characters (':', ' ', '%') in partition dir names and
    # spells NULL as __HIVE_DEFAULT_PARTITION__, so an f-string built
    # from the Python values would name a directory that doesn't exist
    # and the emptied-partition cleanup below would silently no-op.
    affected = (
        table.join(F.broadcast(keys_df), key_col)
        .select(
            *partition_by,
            F.expr("regexp_replace(input_file_name(), '/[^/]*$', '')").alias(
                "_dir"
            ),
        )
        .distinct()
        .collect()
    )  # O(#affected partitions) driver rows — bounded by the key set
    if not affected:
        return 0
    pred = None
    for row in affected:
        clause = None
        for c in partition_by:
            # eqNullSafe: a NULL-valued partition must still be
            # selected for rewrite (plain == yields NULL and the
            # doomed keys there would silently survive)
            p = F.col(c).eqNullSafe(F.lit(row[c]))
            clause = p if clause is None else (clause & p)
        pred = clause if pred is None else (pred | clause)
    rewritten = (
        spark.read.parquet(path)
        .filter(pred)  # partition-pruned: only affected partitions read
        .join(F.broadcast(keys_df), key_col, "left_anti")
    )
    # Stage the surviving rows OUTSIDE the table, then republish from
    # the staged copy: the overwrite never races its own input, and a
    # failure between the two writes leaves the original table intact.
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _hpath(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    staging = path.rstrip("/") + ".__delete_staging__"
    rewritten.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    # Dynamic overwrite only replaces partitions PRESENT in the write,
    # so a partition whose every row is doomed would keep its old
    # files. Find those fully-emptied partitions (from the staged copy
    # — no recompute) and drop their directories after the rewrite.
    surviving = {
        tuple(row[c] for c in partition_by)
        for row in staged.select(*partition_by).distinct().collect()
    }
    emptied = [
        row
        for row in affected
        if tuple(row[c] for c in partition_by) not in surviving
    ]
    overwrite_partitions_dynamic(staged, path, partition_by)
    fs = _hpath(path).getFileSystem(hconf)
    from urllib.parse import unquote

    for row in emptied:
        # row["_dir"] is the partition's actual on-disk directory as
        # reported by the scan — correct for Hive-escaped values and
        # __HIVE_DEFAULT_PARTITION__ alike. input_file_name() returns
        # the path URI-encoded ONCE MORE than the on-disk name (the
        # on-disk "stamp=.. 00%3A00%3A00" comes back as
        # "stamp=..%2000%253A00%253A00"), so unquote exactly once.
        seg = _hpath(unquote(row["_dir"]))
        if not fs.exists(seg):
            raise IOError(
                f"emptied partition directory vanished before cleanup: {seg}"
            )
        fs.delete(seg, True)
        if fs.exists(seg):  # silent-no-op guard: deletion must be real
            raise IOError(
                f"failed to remove emptied partition directory {seg}"
            )
    fs.delete(_hpath(staging), True)
    return len(affected)
