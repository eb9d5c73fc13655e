"""Keep-latest deduplication (SURVEY.md §2.6 W1/W2).

Window-based dedup: ``row_number() OVER (PARTITION BY <keys> ORDER BY
<order_col> DESC)``, keep rn=1. Key inference mirrors the reference
(Silver_full_load.ipynb:1 cell 8 `remove_duplicates`):

- *fact* tables: partition by inferred business-key columns (names
  containing ``_number`` / ``_key`` / equal to ``customer_key`` /
  ``product_key``);
- *dim* tables (no such columns): partition by ALL columns except the
  ordering/metadata columns — i.e. exact-duplicate removal keeping the
  latest metadata.

Scale note: this is one hash-shuffle on the partition keys. At 100 TB
the shuffle is unavoidable for a global dedup; AQE handles skewed key
groups. For repeated runs over the same table, write the output
bucketed by the same keys so downstream joins/dedups reuse the layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: metadata columns never used as dedup keys (p_bucket/p_month are the
#: engine's derived partition columns — layout, not identity)
META_COLUMNS = {"dwcreateddate", "load_date", "source_system", "silver_created_date",
                "silver_execution_id", "gold_created_date", "gold_execution_id",
                "p_bucket", "p_month"}

KEY_PATTERNS = ("_number", "_key")


def infer_keys(columns: list[str], order_col: str) -> list[str]:
    """Infer dedup partition keys per the reference's name-pattern rule."""
    keyish = [c for c in columns if any(p in c.lower() for p in KEY_PATTERNS)]
    if keyish:
        return keyish
    return [c for c in columns if c != order_col and c.lower() not in META_COLUMNS]


def dedup_latest(
    df: DataFrame,
    order_col: str = "dwcreateddate",
    keys: list[str] | None = None,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Keep the latest row per key group by ``order_col`` (descending).

    ``tie_breakers``: extra descending order columns for deterministic
    results when ``order_col`` ties (the reference leaves ties to chance;
    we allow pinning them for reproducible tests).
    """
    keys = keys or infer_keys(df.columns, order_col)
    order = [F.col(order_col).desc()] + [F.col(t).desc() for t in (tie_breakers or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# -- cross-run incremental dedup --------------------------------------------

def incremental_dedup(
    batch: DataFrame,
    store: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Deduplicate a NEW batch against everything already ingested: the
    production shape of corpus ingestion, where each run sees only a
    delta but must never re-admit a document any prior run kept.

    Two steps, both on 16-byte md5 fingerprints (the raw text never
    enters a shuffle):

    1. within-batch canonicalization — keep min(id) per fingerprint
       (map-side-combinable groupBy, same guarantee as ``d01``);
    2. cross-run screen — left-anti join against the fingerprint store.

    The store side carries ONLY fingerprints: at 100 TB of corpus the
    store is ~16 B/doc, so it broadcasts while small and degrades to a
    shuffled-hash anti join (on already-tiny keys) when it outgrows the
    broadcast threshold — Spark/AQE picks per run; no plan change needed.

    Returns surviving (id, fingerprint) pairs; join back on id for the
    payload (ids-only pattern, as in ``dedup_fuzzy.canonical_corpus``).

    NULL text is never admissible: md5(NULL) is NULL, which an equi
    anti join can never screen (NULL = NULL is not true), so a
    null-text row would be re-admitted every single run — filter it
    here, once, for every caller.
    """
    fps = batch.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.md5(text_col).alias(fp_col)
    ).groupBy(fp_col).agg(F.min(id_col).alias(id_col))
    if store is not None:
        fps = fps.join(
            store.select(F.col(fp_col)).distinct(), on=fp_col, how="left_anti"
        )
    return fps.select(id_col, fp_col)


def update_fingerprint_store(
    spark,
    survivors: DataFrame,
    store_path: str,
    fp_col: str = "fingerprint",
) -> None:
    """Append the survivors' fingerprints to the parquet store.

    Append-only is sufficient for exactness: ``incremental_dedup``
    screens with an anti join over DISTINCT store fingerprints, so a
    fingerprint appearing twice (e.g. a retried run that appended before
    failing) changes nothing — re-running the same batch is idempotent
    by construction (its fingerprints are all in the store, so zero
    survivors, so zero new appends). No MERGE/compaction needed on the
    hot path; compact with a periodic distinct-rewrite if file count
    grows. Completes any interrupted compaction first (an append into a
    half-swapped store directory would otherwise be lost with it).
    """
    recover_store(spark, store_path)
    survivors.select(fp_col).write.mode("append").parquet(store_path)


def read_store(spark, store_path: str) -> DataFrame | None:
    """Read a screen store, distinguishing 'never created' (→ None, the
    only state that legitimately means an empty screen) from any other
    read failure (→ raised). A bare try/except around the read is the
    bug this exists to prevent: a transient FS fault or corrupt footer
    would silently read as 'empty store' and re-admit every duplicate.
    Runs :func:`recover_store` first so an interrupted compaction can't
    masquerade as a missing store."""
    recover_store(spark, store_path)
    fs, jvm = _hadoop_fs(spark, store_path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(store_path)):
        return None
    return spark.read.parquet(store_path)


def _hadoop_fs(spark, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jvm


def has_data_files(spark, path: str) -> bool:
    """True iff ``path`` exists AND holds at least one non-hidden data
    file (recursively, so partitioned layouts count their leaf files).

    ``fs.exists`` alone cannot stand in for "data was ever written": an
    empty dynamic-partition overwrite still creates the directory (plus
    a ``_SUCCESS`` marker), and reading that empty-but-created dir
    raises ``UNABLE_TO_INFER_SCHEMA`` — so a first-ever run that admits
    zero rows would crash any caller that gated a read on ``exists``.
    Underscore/dot-prefixed files (_SUCCESS, .crc, _started markers)
    are metadata, not data, and don't count.
    """
    fs, jvm = _hadoop_fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return False
    it = fs.listFiles(p, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            return True
    return False


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports failure (destination exists,
    source missing, cross-FS move) by returning FALSE, not by raising —
    an unchecked call on the crash-safety path can silently leave the
    next rename moving ``__compact`` INSIDE a still-existing store dir,
    corrupting the layout. Every swap rename goes through here."""
    if not fs.rename(src, dst):
        raise IOError(f"filesystem rename failed (returned false): {src} -> {dst}")


def recover_store(spark, store_path: str) -> str | None:
    """Finish or roll back an interrupted :func:`compact_store`. Returns
    the action taken (or None). Safe to call unconditionally before any
    store read — each leftover state has exactly one correct resolution:

    - store present + ``__old``/``__compact`` leftovers → the swap
      completed (or never started); leftovers are stale → delete them.
    - store missing + complete ``__compact`` (has ``_SUCCESS``) → the
      crash hit between the two renames → finish: promote the compacted
      copy.
    - store missing + incomplete ``__compact`` → the compaction write
      itself died after the old store was renamed (impossible in the
      documented order, but cheap to handle) → roll ``__old`` back.
    """
    fs, jvm = _hadoop_fs(spark, store_path)
    P = jvm.org.apache.hadoop.fs.Path
    main, old, comp = P(store_path), P(store_path + "__old"), P(store_path + "__compact")
    if fs.exists(main):
        acted = None
        for stale in (old, comp):
            if fs.exists(stale):
                fs.delete(stale, True)
                acted = "deleted stale leftovers"
        return acted
    if fs.exists(comp) and fs.exists(P(store_path + "__compact/_SUCCESS")):
        _rename_or_raise(fs, comp, main)
        if fs.exists(old):
            fs.delete(old, True)
        return "promoted compacted store"
    if fs.exists(old):
        if fs.exists(comp):
            fs.delete(comp, True)
        _rename_or_raise(fs, old, main)
        return "rolled back to pre-compaction store"
    return None


def compact_store(spark, store_path: str) -> dict:
    """Distinct-rewrite of an append-only screen store (the md5
    fingerprint store of :func:`incremental_dedup`, the MinHash band
    store of ``dedup_fuzzy.incremental_near_dedup``): every ingest run
    appends a few files, so file count and duplicate rows grow without
    bound; the screen's DISTINCT semantics make a periodic rewrite
    exactness-preserving at any moment.

    Ordered-rename swap (write ``__compact`` + _SUCCESS → rename away →
    promote → delete old) with :func:`recover_store` resolving every
    crash window — the path-store analog of
    ``maintenance.overwrite_via_staging``. Single-writer by contract
    (the ingest job compacts between its own runs); on object stores
    whose rename is copy+delete, prefer a catalog-table store and
    ``maintenance.compact_table``.
    """
    recover_store(spark, store_path)
    before = spark.read.parquet(store_path)
    n_before = before.count()
    # distinct's shuffle output is AQE-coalesced, so the rewrite lands
    # in few well-sized files without any .rdd partition probe
    before.distinct().write.mode("overwrite").parquet(store_path + "__compact")
    fs, jvm = _hadoop_fs(spark, store_path)
    P = jvm.org.apache.hadoop.fs.Path
    _rename_or_raise(fs, P(store_path), P(store_path + "__old"))
    _rename_or_raise(fs, P(store_path + "__compact"), P(store_path))
    fs.delete(P(store_path + "__old"), True)
    return {"rows_before": n_before,
            "rows_after": spark.read.parquet(store_path).count()}


# -- catalog-table-backed screen stores --------------------------------------
#
# The path-backed store above gets its crash safety from an ordered
# directory-rename swap — correct on HDFS/local FS, but object stores
# without atomic rename (S3-style copy+delete) widen its crash windows.
# This variant keeps the SAME store semantics (append-only under a
# DISTINCT screen) on a catalog table whose swap is
# ``maintenance.overwrite_via_staging``'s versioned view repoint — one
# atomic catalog operation, no directory rename anywhere — so object
# stores get the guarantees the path state machine gives local FS.
# A crashed append can leave a PARTIAL fingerprint set durable; that is
# the documented replay window of every store here: callers order
# durable outputs before store appends, so the replay's screen misses
# exactly the unfinished fingerprints and re-appends them.
# (Imports of ``maintenance`` are function-local: maintenance → merge →
# dedup would otherwise be a module cycle.)

def read_store_table(spark, table: str) -> DataFrame | None:
    """Table-backed :func:`read_store`: None iff the store table was
    never created (the only state meaning an empty screen); any other
    resolution failure raises. Recovers an interrupted compaction swap
    first via ``maintenance.recover_staged_swap`` — the catalog twin of
    :func:`recover_store`."""
    from spaceparts_data_pipeline_spark.operators import maintenance

    maintenance.recover_staged_swap(spark, table)
    if not spark.catalog.tableExists(table):
        return None
    return spark.table(table)


def update_store_table(spark, rows: DataFrame, table: str) -> None:
    """Table-backed :func:`update_fingerprint_store`: append ``rows`` to
    the store table, creating it version-managed (view over
    ``{table}__v1``) on first use so every later compaction swap is a
    pure catalog operation. Appends address the resolved physical
    version table — a view accepts no appends."""
    from spaceparts_data_pipeline_spark.operators import maintenance

    maintenance.recover_staged_swap(spark, table)
    if not spark.catalog.tableExists(table):
        maintenance.overwrite_via_staging(spark, table, rows)
        return
    rows.write.mode("append").saveAsTable(maintenance.resolve_physical(spark, table))


def compact_store_table(spark, table: str) -> dict:
    """Table-backed :func:`compact_store`: distinct-rewrite through the
    versioned-view swap. The previous version is retained as a reader
    grace copy and pruned by later swaps (``retain_versions``); no step
    renames a directory, so the crash windows are exactly
    ``recover_staged_swap``'s — all catalog-resolvable on any store."""
    from spaceparts_data_pipeline_spark.operators import maintenance

    maintenance.recover_staged_swap(spark, table)
    n_before = spark.table(table).count()
    maintenance.overwrite_via_staging(spark, table, spark.table(table).distinct())
    return {"rows_before": n_before,
            "rows_after": spark.table(table).count()}


def maybe_compact_store_table(spark, table: str, max_files: int) -> dict | None:
    """Table-backed :func:`maybe_compact_store` (file count via the
    table's resolved storage location)."""
    from spaceparts_data_pipeline_spark.operators import maintenance

    if maintenance.file_stats(spark, table)["n_files"] <= max_files:
        return None
    return compact_store_table(spark, table)


def data_file_count(spark, path: str) -> int:
    """Number of non-hidden data files under ``path`` (recursive) — the
    growth signal append-only stores are compacted on: every ingest run
    appends a few files, so count grows linearly with runs regardless
    of row volume. Underscore/dot-prefixed metadata files don't count."""
    fs, jvm = _hadoop_fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return 0
    n = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
    return n


def maybe_compact_store(spark, store_path: str, max_files: int) -> dict | None:
    """Compact ``store_path`` iff its data-file count exceeds
    ``max_files``; returns :func:`compact_store`'s stats when it ran,
    None otherwise. This is the lifecycle hook the ingest funnel calls
    after its store appends (the reference runs its table maintenance
    on every load — Silver_full_load.ipynb:1 cell 16 OPTIMIZE; we gate
    on file count so steady-state runs pay one cheap listing, not a
    full rewrite). Exactness-preserving at any moment: the screen reads
    DISTINCT fingerprints, and compaction is a distinct-rewrite behind
    a crash-safe swap (:func:`recover_store`)."""
    if data_file_count(spark, store_path) <= max_files:
        return None
    return compact_store(spark, store_path)
