"""Deduplication operators for large-scale training-data pipelines.

Greenfield additions beyond the reference surface (SURVEY.md §7.9):

- exact dedup (content-hash groupBy) — one shuffle on a short hash key;
- word-shingle Jaccard pairs — inverted-index self-join with a
  document-frequency cap so hot shingles can't produce quadratic blowup;
- MinHash + LSH banding — signatures via a single groupBy over exploded
  (token, seed) pairs, candidate pairs via band-key join: the standard
  sub-quadratic near-dup pipeline at 100 TB;
- SimHash — 64-bit signature computed with 64 conditional-sum aggregates
  in ONE groupBy pass (no 64x row blowup), near-dups = small Hamming
  distance within LSH buckets of the signature's 4 16-bit chunks.

Hash portability: token hashes derive from md5 (identical across engines)
rather than Spark's private hash(), so every operator has a DuckDB-SQL
oracle.
"""

from __future__ import annotations

import threading

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .text import ngrams_expr, tokens_expr

# Mersenne prime modulus for the universal hash family h_i(x) = (a_i x + b_i) mod P.
# 31-bit on purpose: a*x + b then stays < 2^62, so the arithmetic is exact
# int64 in Spark AND in any SQL oracle engine (no decimal widening games).
MERSENNE = (1 << 31) - 1


def _token_int_expr(tok):
    """Portable token -> 28-bit integer via the first 7 hex chars of md5
    (md5 is identical across engines; 7 hex chars < 2^28 < MERSENNE)."""
    return F.conv(F.substring(F.md5(tok), 1, 7), 16, 10).cast("long")


def _token_int32_expr(tok):
    """Portable token -> 32-bit integer (first 8 hex chars of md5), used as
    the SimHash bit pattern."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact text content.

    Shuffle is keyed on md5(text) — 32-byte keys, perfectly spreadable;
    at 100 TB this is the cheapest possible full dedup (one hash agg)."""
    return (
        df.withColumn("_h", F.md5(F.col(text_col)))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("_h")
    )


def write_content_index(
    df: DataFrame, path: str, id_col: str, text_col: str
) -> None:
    """Materialize the EXACT-dedup index of the incremental pipeline:
    one row per distinct content hash — ``(content_md5, canonical_id =
    min id, n_copies)`` — so every new crawl shard gates against the
    historical corpus with :func:`exact_dedup_against` in O(shard)
    instead of re-hashing 100 TB per snapshot. One md5 hash-agg, the
    same shuffle :func:`exact_dedup` pays once.

    Appending a snapshot's NEW keepers keeps the index incremental too;
    a hash reaching the index twice that way is tolerated at probe time
    (the gate collapses duplicate index rows to the min canonical id)."""
    (
        df.select(
            F.md5(F.col(text_col)).alias("content_md5"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("content_md5")
        .agg(
            F.min("_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
        .write.mode("overwrite").parquet(path)
    )


def _require_distinct_out(fn: str, in_path: str, out_path: str) -> None:
    """Every ``extend_*`` roll-forward writes a NEW directory: Spark
    cannot overwrite a parquet directory it is reading mid-job, and a
    failed in-place attempt destroys the only copy of the index.
    realpath, not abspath — a symlink alias of the input must not slip
    past the guard. NESTING is rejected in both directions, not just
    equality: an out_path inside in_path writes a non-partition
    subdirectory into the live index (breaking later file/partition
    discovery of in_path), and an out_path that is an ANCESTOR of
    in_path is worse — ``mode("overwrite")`` clears the target first,
    deleting the input index before the job reads it."""
    import os

    rin = os.path.realpath(in_path)
    rout = os.path.realpath(out_path)
    try:
        common = os.path.commonpath([rin, rout])
    except ValueError:  # different drives (Windows): trivially disjoint
        common = None
    if rin == rout or common in (rin, rout):
        raise ValueError(
            f"{fn}: out_path must differ from (and not nest inside or "
            "contain) in_path — Spark cannot overwrite a parquet "
            "directory it is reading, a descendant write corrupts the "
            "live index's directory discovery, and an ancestor "
            "overwrite deletes the input; write to a sibling path and "
            "swap"
        )


def extend_content_index(
    df: DataFrame,
    in_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
) -> None:
    """Roll the exact-dedup index forward one snapshot: merge a new
    shard's content hashes into an existing :func:`write_content_index`
    parquet and write the UNION index — min canonical id and summed
    ``n_copies`` per hash — to ``out_path``. EXACTLY equivalent to the
    one-shot build on (old corpus ∪ shard), pinned in tests, at
    O(index rows + shard) cost: the old index re-enters as slim
    (hash, id, count) rows, so the corpus TEXT is never re-hashed —
    the saving over re-running :func:`write_content_index` on the
    union. ``out_path`` must be a new directory (Spark cannot
    overwrite its own input mid-read; swap paths after the write —
    fails loud on in-place). Unlike raw ``mode('append')`` of gated
    keepers, this keeps ``n_copies`` exact for contents that RECUR in
    the shard, and the output stays one-row-per-hash, so
    ``exact_dedup_against(..., unique_index=True)`` stays valid.

    Re-extending a doc ALREADY in the index is a caller error that
    double-counts it in ``n_copies`` (and the gate's copy stats), so
    shard ids are checked against the stored canonical ids and fail
    loud — the :func:`extend_minhash_index` guard, one column-pruned
    semi-join within the roll-forward's own O(index) budget. The check
    is necessarily partial: only CANONICAL ids are stored, so
    re-extending a non-keeper duplicate (an id the index never
    recorded) is undetectable and silently overcounts its content's
    ``n_copies`` — extend with the gate's KEEPERS only, which by
    construction are ids the index has never seen."""
    _require_distinct_out("extend_content_index", in_path, out_path)
    spark = df.sparkSession
    old = spark.read.parquet(in_path).select(
        "content_md5", "canonical_id", "n_copies"
    )
    n_overlap = (
        df.select(F.col(id_col).alias("canonical_id")).distinct()
        .join(old.select("canonical_id"), "canonical_id", "left_semi")
        .count()
    )
    if n_overlap:
        raise ValueError(
            f"extend_content_index: {n_overlap} shard doc id(s) are "
            "already canonical in the index — re-extending them "
            "double-counts n_copies; extend with the gate's KEEPERS "
            "only (new docs the index has never seen)"
        )
    _content_index_rows(old, df, id_col, text_col).write.mode(
        "overwrite"
    ).parquet(out_path)


def _content_index_rows(
    old: DataFrame, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The union-merge frame :func:`extend_content_index` writes —
    exposed separately so bench/plan pins can audit the roll-forward's
    plan (one union + one hash agg) without performing the write."""
    add = df.select(
        F.md5(F.col(text_col)).alias("content_md5"),
        F.col(id_col).alias("canonical_id"),
        F.lit(1).cast("long").alias("n_copies"),
    )
    return (
        old.unionByName(add)
        .groupBy("content_md5")
        .agg(
            F.min("canonical_id").alias("canonical_id"),
            F.sum("n_copies").alias("n_copies"),
        )
    )


def exact_dedup_against(
    df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    include_shard_dups: bool = True,
    unique_index: bool = False,
) -> DataFrame:
    """Incremental :func:`exact_dedup`: flag every document of a new
    shard whose exact content already exists — in a PRE-BUILT
    :func:`write_content_index` (or any frame with ``content_md5`` +
    ``canonical_id`` columns), or (``include_shard_dups``, default)
    repeated WITHIN the shard. Returns one row per input document:
    ``(id, content_md5, dup_of)`` with ``dup_of`` = the content's
    canonical id (index id wins over the shard's min id) and NULL for
    keepers — semi-join the NULL rows back for the surviving documents,
    append them to the index, move to the next snapshot.

    Plan: one hash join against the index + one per-hash window over
    the SHARD — O(shard), no corpus re-aggregation. The duplicate-
    index-row collapse (an O(shard output) aggregation) exists only for
    UNIONED/APPENDED indexes, where one hash can reach the probe twice;
    ``unique_index=True`` drops it when the index is a single
    :func:`write_content_index` build (one row per hash by
    construction — the caller vouches, the bare-frame precedent of
    :func:`minhash_candidates_against`). One contract delta: the
    collapse also deduplicated REPEATED INPUT ROWS (same id + same
    text, e.g. a double-listed file), so with ``unique_index=True``
    the gate is row-for-row 1:1 — a repeated input row emits repeated
    (identical) output rows. With ``unique_index=True`` AND
    ``include_shard_dups=False`` the gate is a bare stream-static join
    + projection: directly runnable on a STREAMING shard in append mode
    (pinned in tests). Any other combination aggregates or windows over
    the shard, so gate a STREAM per micro-batch in ``foreachBatch``
    (the :func:`minhash_candidates_against` recipe; within-shard
    duplicates are then micro-batch-local — union gated keepers into
    the index between snapshots to catch cross-batch repeats)."""
    from pyspark.sql import Window

    keyed = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_md5")
    )
    idx = index.select("content_md5", F.col("canonical_id").alias("_idx_id"))
    hit = keyed.join(idx, "content_md5", "left")
    if not unique_index:
        # collapse duplicate index rows for one hash (unioned/appended
        # indexes) — O(shard output), deterministic min
        hit = hit.groupBy(id_col, "content_md5").agg(
            F.min("_idx_id").alias("_idx_id")
        )
    # a doc re-gated against an index that already contains it must not
    # come out "duplicate of itself" — it IS the canonical
    idx_hit = F.when(F.col("_idx_id") != F.col(id_col), F.col("_idx_id"))
    if include_shard_dups:
        shard_min = F.min(id_col).over(Window.partitionBy("content_md5"))
        within = F.when(F.col(id_col) != shard_min, shard_min)
        dup_of = F.coalesce(idx_hit, within)
    else:
        dup_of = idx_hit
    return hit.select(
        id_col, "content_md5", dup_of.alias("dup_of")
    )


def shingles_expr(text, n: int = 3):
    """Distinct word n-gram shingles of the lowercased text (the shared
    sliding-window construction lives in text.ngrams_expr)."""
    toks = tokens_expr(text)
    if n == 1:
        return F.array_distinct(toks)
    return F.array_distinct(ngrams_expr(toks, n))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard >= threshold.

    Inverted-index plan: explode distinct shingles -> self-join on shingle
    (id_a < id_b) -> count common shingles per pair -> Jaccard from
    |A| + |B| - |A∩B|. ``max_df`` (ON by default) drops shingles occurring
    in more than that many documents: one hot stopword-shingle appearing in
    k docs contributes k^2/2 join rows, so the cap is what keeps the
    self-join sub-quadratic at 100 TB. Pass ``max_df=None`` for the exact
    (potentially quadratic) variant. Dropped shingles are logged."""
    import logging

    # explode_outer + null-filter: plain explode's implicit size()>0
    # predicate gets pushed down with the shingle expression re-inlined,
    # doubling the tokenize+ngram work (see text.winnow_minima)
    sh = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode_outer(shingles_expr(F.col(text_col), n)).alias("shingle"),
        ).filter(F.col("shingle").isNotNull())
    )
    _evict_generation(_gen_cache("jaccard"))
    # consumed by sizes + both sides of the self-join
    sh = _pin(_gen_cache("jaccard"), sh)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("set_size"))
    if max_df is not None:
        hot = _pin(
            _gen_cache("jaccard"),
            sh.groupBy("shingle").count().filter(F.col("count") > max_df),
        )
        n_hot = hot.count()
        if n_hot:
            logging.getLogger("prague_spark.dedup").warning(
                "ngram_jaccard_pairs: dropping %d shingles with doc-frequency > %d "
                "(pair counts become sub-quadratic estimates)", n_hot, max_df,
            )
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def edit_distance_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_len: int = 2000,
) -> DataFrame:
    """Exact-verification tier for candidate pairs (LSH / Jaccard / any
    blocking stage): join both texts back and compute the Levenshtein
    edit distance plus the normalized similarity
    ``1 - dist / max(len_a, len_b)`` — all JVM builtins, no Python.

    Levenshtein is O(len_a x len_b) PER PAIR, so texts are truncated to
    ``max_len`` chars first (the standard verification-tier compromise:
    near-dups disagree within the prefix long before 2k chars; raise it
    deliberately for short-document corpora where exactness matters).
    Output adds ``edit_dist`` (on the truncated texts) and ``edit_sim``.

    Scale: two hash joins (candidate volume x text payload — the pair
    list is already sub-quadratic out of the blocking stage); the
    quadratic-per-pair DP cost is bounded by max_len^2."""
    ta = docs.select(
        F.col(id_col).alias(a_col),
        F.substring(F.col(text_col), 1, max_len).alias("_ta"),
    )
    tb = docs.select(
        F.col(id_col).alias(b_col),
        F.substring(F.col(text_col), 1, max_len).alias("_tb"),
    )
    out = (
        pairs.join(ta, a_col).join(tb, b_col)
        .withColumn("edit_dist", F.levenshtein("_ta", "_tb"))
        .withColumn(
            "edit_sim",
            F.when(
                F.greatest(F.length("_ta"), F.length("_tb")) > 0,
                1.0
                - F.col("edit_dist")
                / F.greatest(F.length("_ta"), F.length("_tb")),
            ).otherwise(F.lit(1.0)),
        )
    )
    return out.drop("_ta", "_tb")


def _minhash_params(num_hashes: int, seed: int = 42):
    """Deterministic (a, b) pairs for the universal hash family."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE - 1, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE - 1, size=num_hashes, dtype=np.int64)
    return [int(x) for x in a], [int(x) for x in b]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 2,
    seed: int = 42,
) -> DataFrame:
    """(id, array<bigint> signature): sig_i = min over shingles of
    (a_i * h(shingle) + b_i) mod P.

    Plan: explode distinct shingles (one row per (doc, shingle)), compute
    all ``num_hashes`` hashes as column expressions, one groupBy(doc) with
    ``num_hashes`` min() aggregates — a single shuffle whose width is the
    signature, independent of document length."""
    a, b = _minhash_params(num_hashes, seed)
    sh = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode_outer(
                shingles_expr(F.col(text_col), shingle_n)
            ).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .withColumn("x", _token_int_expr(F.col("shingle")))
    )
    aggs = [
        F.min((F.lit(int(a[i])) * F.col("x") + F.lit(int(b[i]))) % MERSENNE)
        .cast("long")
        .alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc").agg(*aggs)
    return sig.select(
        F.col("doc").alias(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"),
    )


def lsh_band_keys(
    signatures: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """(doc, band, key) rows: band key = md5 of the band's signature
    slice. The shared banding projection of the batch self-join
    (:func:`minhash_lsh_candidates`) and the streaming stream-static join
    (``streaming.dedup.minhash_lsh_candidates_stream``) — one definition so
    stream and corpus keys can never drift. Pure projection + explode: no
    shuffle, streaming-safe."""
    return signatures.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("signature", bi * rows_per_band + ri + 1)
                                    for ri in range(rows_per_band)
                                ],
                            )
                        ).alias("key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.key")


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket: int | None = 5000,
) -> DataFrame:
    """Candidate near-duplicate pairs: documents sharing >= 1 LSH band.

    Band key = md5 of the band's signature slice; join is on (band_idx,
    band_key) so only same-band collisions shuffle together. The banded
    table is persisted so the self-join doesn't recompute the signature
    pipeline on both sides.

    ``max_bucket`` (ON by default) drops (band, key) buckets holding more
    than that many documents before the self-join: ONE degenerate bucket —
    e.g. a boilerplate/empty-document signature shared by k docs — emits
    k^2/2 join rows from a single shuffle partition, the classic skew bomb
    of LSH dedup at 100 TB. Members of a dropped bucket are typically
    EXACT duplicates of each other (identical signature slice across a
    whole band), so run :func:`exact_dedup` first and the cap costs no
    recall in practice; pass ``max_bucket=None`` for the uncapped join.
    Dropped buckets are logged."""
    import logging

    _evict_generation(_gen_cache("minhash"))
    # pin only INTERNALLY-built frames: pinning the caller's signatures
    # frame would let the next call's eviction unpersist a cache the
    # caller owns (a band-config sweep over one signatures frame would
    # silently recompute it). banded embeds the signature pipeline, so
    # persisting it alone still computes signatures once.
    banded = _pin(
        _gen_cache("minhash"), lsh_band_keys(signatures, id_col, bands, rows_per_band)
    )
    if max_bucket is not None:
        hot = _pin(
            _gen_cache("minhash"),
            banded.groupBy("band", "key")
            .count()
            .filter(F.col("count") > max_bucket),
        )
        n_hot = hot.count()
        if n_hot:
            logging.getLogger("prague_spark.dedup").warning(
                "minhash_lsh_candidates: dropping %d LSH buckets with > %d "
                "members (candidate recall becomes partial for those "
                "buckets; exact_dedup catches their identical members)",
                n_hot, max_bucket,
            )
        banded = banded.join(
            F.broadcast(hot.select("band", "key")), ["band", "key"], "left_anti"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


#: parameter columns a write_minhash_index parquet carries on every row
#: (RLE-compressed to nothing): the band keys are md5 of signature
#: slices, so EVERY one of these changes the key space — a mismatched
#: probe would silently collide with nothing.
_MINHASH_INDEX_PARAMS = (
    "num_hashes", "shingle_n", "seed", "bands", "rows_per_band",
)


def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    shingle_n: int = 2,
    seed: int = 42,
    bands: int = 8,
    rows_per_band: int = 4,
) -> None:
    """Materialize the corpus's LSH band-bucket index — the NEAR-DUP
    dedup index of the incremental pipeline (the MinHash analogue of
    :func:`write_span_index`): build it once over the existing corpus
    (one signature aggregation + one bucket-count join), then gate every
    new crawl shard with :func:`minhash_candidates_against` in O(shard)
    instead of re-computing 100 TB of signatures per shard.

    Layout: (doc, key, bucket_n, params...) parquet PARTITIONED BY band.
    ``bucket_n`` is the bucket's member count, precomputed HERE so the
    gate's hot-bucket skew guard is a pushed ``bucket_n <= max_bucket``
    predicate — zero index-wide aggregation at probe time. Every
    signature-pipeline parameter travels WITH the index (the span
    index's carried-``k`` discipline): band keys are md5 of signature
    slices, so a probe built with ANY different parameter would silently
    collide with nothing — :func:`minhash_candidates_against` fails loud
    instead.

    NOTE: unioning two write_minhash_index outputs (same params) gates
    correctly for candidate generation, but their ``bucket_n`` counts
    are per-build — rebuild (or re-count) if the skew cap must see the
    union's true bucket sizes."""
    if bands * rows_per_band > num_hashes:
        raise ValueError(
            f"write_minhash_index: bands*rows_per_band = "
            f"{bands * rows_per_band} exceeds num_hashes={num_hashes} — "
            "bands past the signature would all key on md5('') (one "
            "mega-bucket of everything)"
        )
    sig = minhash_signatures(
        df, id_col, text_col,
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
    )
    banded = lsh_band_keys(sig, id_col, bands=bands, rows_per_band=rows_per_band)
    counts = banded.groupBy("band", "key").agg(
        F.count("*").alias("bucket_n")
    )
    (
        banded.join(counts, ["band", "key"])
        .select(
            "doc", "band", "key", "bucket_n",
            F.lit(int(num_hashes)).alias("num_hashes"),
            F.lit(int(shingle_n)).alias("shingle_n"),
            F.lit(int(seed)).alias("seed"),
            F.lit(int(bands)).alias("bands"),
            F.lit(int(rows_per_band)).alias("rows_per_band"),
        )
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(path)
    )


#: stored-index size past which extend_minhash_index switches its
#: bucket_n roll-forward from the union-wide recount to the O(touched)
#: incremental form (see _minhash_index_rows). Measured crossover
#: rationale: below this the recount's two slim-row shuffles cost less
#: than the incremental plan's extra stage barriers (profiled at sf0.1:
#: recount 1.9 s vs incremental 2.5 s per roll-forward), while past it
#: the recount's 2x O(index) shuffle bytes dominate and the incremental
#: form's index side stays map-only.
MINHASH_INCREMENTAL_BYTES = 256 * 1024 * 1024


def _dir_bytes(spark, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API (no job;
    works wherever the index lives — HDFS, S3A, local)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(hpath).getLength())


def extend_minhash_index(
    df: DataFrame,
    in_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    shingle_n: int = 2,
    seed: int = 42,
    bands: int = 8,
    rows_per_band: int = 4,
    incremental_counts: bool | None = None,
) -> None:
    """Roll the LSH band-bucket index forward one snapshot: signature
    the NEW shard only, union its band rows with the existing
    :func:`write_minhash_index` parquet, roll every ``bucket_n``
    forward to the union's exact count, and write to ``out_path`` —
    exactly the index :func:`write_minhash_index` would build on
    (old corpus ∪ shard), pinned in tests. This closes the documented
    union caveat: raw unioning gates correctly but carries stale
    per-build bucket counts, so the probe-time skew cap misjudges hot
    buckets; extending keeps them exact while never re-tokenizing the
    corpus — and (optimization round 14) past
    ``MINHASH_INCREMENTAL_BYTES`` of stored index the counts roll
    forward INCREMENTALLY from the index's own stored ``bucket_n``
    (exact by construction; see :func:`_minhash_index_rows`), so the
    only aggregations are O(shard) and O(touched buckets) — the index
    pays a count-adjusting projection, not the union-wide recount
    whose two O(index) slim-row shuffles would rival the successor
    write itself at scale. ``incremental_counts`` forces the route
    (None = auto by stored size; both routes are value-identical,
    pinned in tests — below the threshold the recount's single
    aggregation wins on plain stage latency).
    Parameters are validated against the carried index columns (fail
    loud, distinct-checked), and so is doc overlap: extending with a
    doc ALREADY in the index (anything but the gate's keepers) would
    duplicate its band rows and inflate its buckets, so it raises
    instead of silently corrupting the skew cap. ``out_path`` must
    differ from ``in_path`` (Spark cannot overwrite its own input;
    swap after the write)."""
    _require_distinct_out("extend_minhash_index", in_path, out_path)
    if bands * rows_per_band > num_hashes:
        # same guard as the one-shot builder — reachable here when the
        # index is a bare (doc, band, key) frame the param validator
        # waves through
        raise ValueError(
            f"extend_minhash_index: bands*rows_per_band = "
            f"{bands * rows_per_band} exceeds num_hashes={num_hashes} — "
            "bands past the signature would all key on md5('') (one "
            "mega-bucket of everything)"
        )
    spark = df.sparkSession
    index = spark.read.parquet(in_path)
    _validate_minhash_index(
        index,
        dict(num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
             bands=bands, rows_per_band=rows_per_band),
        caller="extend_minhash_index",
    )
    # fail loud on re-added docs instead of silently inflating their
    # bucket counts (the probe-time skew cap would then drop legitimate
    # buckets): one column-pruned semi-join count — O(index doc column),
    # within the roll-forward's own O(index) rewrite budget
    n_overlap = (
        df.select(F.col(id_col).alias("doc")).distinct()
        .join(index.select("doc"), "doc", "left_semi")
        .count()
    )
    if n_overlap:
        raise ValueError(
            f"extend_minhash_index: {n_overlap} shard doc(s) are already "
            "in the index — re-adding duplicates their band rows and "
            "inflates bucket_n; extend with the gate's KEEPERS only"
        )
    if incremental_counts is None:
        incremental_counts = (
            _dir_bytes(spark, in_path) >= MINHASH_INCREMENTAL_BYTES
        )
    try:
        (
            _minhash_index_rows(
                index, df, id_col, text_col,
                num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
                bands=bands, rows_per_band=rows_per_band,
                incremental=bool(incremental_counts), pinned=True,
            )
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(out_path)
        )
    finally:
        # the write was the pins' only consumer — free them now (the
        # refcounted eviction spares any plan-equal live gate pin)
        _evict_generation(_gen_cache("minhash_extend"))


def _minhash_index_rows(
    index: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int,
    shingle_n: int,
    seed: int,
    bands: int,
    rows_per_band: int,
    incremental: bool = False,
    pinned: bool = False,
) -> DataFrame:
    """The union-merge frame :func:`extend_minhash_index` writes —
    shard signature agg, band-row union with the stored index, and the
    union's exact ``bucket_n`` on every row — exposed separately (the
    :func:`_content_index_rows` convention) so bench/plan pins can
    audit the roll-forward's plan without performing the write.

    With ``incremental`` (optimization round 14, the r13 verdict's
    O(touched) ask — extend_minhash_index enables it automatically past
    ``MINHASH_INCREMENTAL_BYTES`` of stored index) the counts roll
    forward from the index's own stored ``bucket_n``: the stored index
    carries each bucket's exact member count, and the caller validates
    that no shard doc is already indexed, so the union's count per
    bucket is exactly ``stored bucket_n + shard delta``. The index side
    becomes a count-adjusting projection (one join against the
    shard-sized delta — broadcast by the planner when the delta is
    small, so typically NO index-wide shuffle), and the only
    aggregations are O(shard) (the delta) and O(touched buckets) (the
    old counts of buckets the shard hits) — never the union-wide
    recount, whose two O(index) slim-row shuffles rival the successor
    write itself at scale. Contract: ``index`` must then be a
    ``write_minhash_index`` / ``extend_minhash_index`` output, whose
    stored counts are exact by construction (a hand-unioned index with
    stale per-build counts should be rebuilt — its counts are already
    wrong for gating, and the incremental form preserves, not repairs,
    stored counts); a bare ``(doc, band, key)`` frame without
    ``bucket_n`` always recounts. Without ``incremental`` (the default,
    and the right call below the threshold, where the recount's single
    aggregation beats the incremental plan's extra stage barriers —
    profiled in OPTIMIZATION_r14.md) the union-wide recount runs as
    before. Both forms produce identical rows, pinned in tests."""
    sig = minhash_signatures(
        df, id_col, text_col,
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
    )
    shard_rows = lsh_band_keys(
        sig, id_col, bands=bands, rows_per_band=rows_per_band
    )
    params = [
        F.lit(int(num_hashes)).alias("num_hashes"),
        F.lit(int(shingle_n)).alias("shingle_n"),
        F.lit(int(seed)).alias("seed"),
        F.lit(int(bands)).alias("bands"),
        F.lit(int(rows_per_band)).alias("rows_per_band"),
    ]
    if not incremental or "bucket_n" not in index.columns:
        rows = index.select("doc", "band", "key").unionByName(shard_rows)
        counts = rows.groupBy("band", "key").agg(
            F.count("*").alias("bucket_n")
        )
        return rows.join(counts, ["band", "key"]).select(
            "doc", "band", "key", "bucket_n", *params
        )
    # the shard band rows feed BOTH the delta aggregation and the
    # shard-side output (and the delta feeds three more branches), so
    # when the caller will EXECUTE the frame (``pinned`` — the writer
    # sets it and evicts right after the write) pin them for one
    # generation: without the pin the O(shard) signature pipeline
    # would re-evaluate once per consuming branch. Audit-only callers
    # (bench/test plan pins) leave ``pinned`` off: they never run a
    # job, and an unmaterialized pin whose plan a LIVE gate pin
    # happens to share would otherwise hold that shared cache entry's
    # refcount up and block the gate's own eviction from freeing it.
    if pinned:
        _evict_generation(_gen_cache("minhash_extend"))
        _hold = lambda fr: _pin(_gen_cache("minhash_extend"), fr)
    else:
        _hold = lambda fr: fr
    shard_rows = _hold(shard_rows)
    # shard-side bucket delta (O(shard) aggregation — the only
    # aggregations in this frame are this and the O(touched) distinct
    # below; the index side never re-aggregates)
    delta = _hold(
        shard_rows.groupBy("band", "key").agg(
            F.count("*").alias("_add_n")
        )
    )
    # stored counts of the buckets the shard touches only: the semi
    # join prunes the index map-side (broadcast for any sane delta),
    # so the aggregation shuffles O(touched) rows, not O(index). One
    # row per (band, key): a bucket whose stored rows disagree on
    # bucket_n (a hand-unioned index) fails the job instead of
    # duplicating the shard's index rows once per distinct count
    touched_old = (
        index.select("band", "key", "bucket_n")
        .join(delta.select("band", "key"), ["band", "key"], "left_semi")
        .groupBy("band", "key")
        .agg(F.min("bucket_n").alias("_lo"), F.max("bucket_n").alias("_hi"))
        .select(
            "band", "key",
            F.coalesce(
                F.assert_true(
                    F.col("_lo") == F.col("_hi"),
                    "extend_minhash_index: stored bucket_n differs within "
                    "one (band, key) bucket; the index counts are "
                    "inconsistent (a hand-unioned index?), rebuild it "
                    "with write_minhash_index",
                ),
                F.col("_hi"),
            ).alias("bucket_n"),
        )
    )
    new_n = _hold(
        delta.join(touched_old, ["band", "key"], "left").select(
            "band", "key",
            (F.col("_add_n") + F.coalesce(F.col("bucket_n"), F.lit(0)))
            .alias("bucket_n"),
            F.col("_add_n"),
        )
    )
    old_side = index.join(
        new_n.select("band", "key", "_add_n"), ["band", "key"], "left"
    ).select(
        "doc", "band", "key",
        (F.col("bucket_n") + F.coalesce(F.col("_add_n"), F.lit(0)))
        .alias("bucket_n"),
        *params,
    )
    shard_side = shard_rows.join(
        new_n.select("band", "key", "bucket_n"), ["band", "key"]
    ).select("doc", "band", "key", "bucket_n", *params)
    return old_side.unionByName(shard_side)


def _validate_minhash_index(
    index: DataFrame, want: dict, caller: str = "minhash_candidates_against"
) -> None:
    """Fail loud when the index's carried parameters don't match the
    probe's — checked against the DISTINCT values (one arbitrary row
    would pass a mixed-parameter union nondeterministically; the
    span-index lesson). One index-sized aggregation, cheap. ``caller``
    names the user-facing function in the error (this validator serves
    both the gate and the roll-forward)."""
    present = [p for p in _MINHASH_INDEX_PARAMS if p in index.columns]
    if not present:
        return  # a bare (doc, band, key) frame: caller vouches
    vals = index.select(
        *[F.collect_set(p).alias(p) for p in present]
    ).first()
    for p in present:
        got = sorted(int(v) for v in vals[p])
        if len(got) > 1:
            raise ValueError(
                f"{caller}: index mixes {p}={got} (a "
                "union of differently-built indexes?) — band keys from "
                "different signature configs never match, so part of "
                "the gate would silently flag nothing"
            )
        if got and got[0] != int(want[p]):
            raise ValueError(
                f"{caller}: index was built with "
                f"{p}={got[0]} but {p}={want[p]} was requested — band "
                "keys from different signature configs never match, so "
                "the gate would silently flag nothing"
            )


def minhash_candidates_against(
    df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    shingle_n: int = 2,
    seed: int = 42,
    bands: int = 8,
    rows_per_band: int = 4,
    include_shard_pairs: bool = True,
    max_bucket: int | None = 5000,
) -> DataFrame:
    """Incremental :func:`minhash_lsh_candidates`: candidate near-dup
    pairs between a NEW shard ``df`` and a PRE-BUILT band-bucket index
    (:func:`write_minhash_index` output, or any frame with (doc, band,
    key) columns). The plan is the shard's signature aggregation + two
    slim equi-joins — NO corpus-wide work, so gating a shard costs
    O(shard), not O(corpus): the per-crawl-snapshot shape every real
    near-dup pipeline runs.

    Emits BOTH pair kinds a new shard creates: shard-vs-index (the
    equi-join on (band, key)) and, with ``include_shard_pairs`` (default),
    shard-vs-shard (the one-shot self-join restricted to the shard).
    Restricted to pairs touching the shard, the output is EXACTLY the
    one-shot operator's pairs on (corpus ∪ shard) — pinned in tests —
    except duplicates BETWEEN index rows, which only the index build
    sees. Returns distinct (id_a, id_b) with id_a < id_b (ids ordered
    across the two sides; a shard doc re-gated against an index that
    already contains it matches keys but never pairs with itself).

    ``max_bucket`` skew guard: index-side hot buckets are dropped via
    the PRECOMPUTED ``bucket_n`` column (a pushed predicate — no index
    aggregation here; absent on a bare index, then no index-side cap),
    shard-side hot buckets by an O(shard) count folded into the
    self-join (a broadcast left-anti, mirroring the one-shot cap).
    Unlike the one-shot operator, dropped shard-side buckets are NOT
    logged: logging would cost an eager extra job per gate call in the
    per-crawl-snapshot hot path, so the gate stays fully lazy —
    audit bucket sizes offline (the index carries ``bucket_n``; the
    shard side is one groupBy away) if the cap's reach matters. Every
    step before the final distinct is stream-safe, but the
    shard self-join is not a stream-stream join Structured Streaming
    runs stateless — gate a STREAM per micro-batch in ``foreachBatch``
    (each batch = one shard; exactness pinned in tests)."""
    if bands * rows_per_band > num_hashes:
        raise ValueError(
            f"minhash_candidates_against: bands*rows_per_band = "
            f"{bands * rows_per_band} exceeds num_hashes={num_hashes} — "
            "bands past the signature would all key on md5('') (one "
            "mega-bucket of everything)"
        )
    _validate_minhash_index(
        index,
        dict(num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
             bands=bands, rows_per_band=rows_per_band),
    )
    sig = minhash_signatures(
        df, id_col, text_col,
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
    )
    _evict_generation(_gen_cache("minhash_gate"))
    # consumed by the index join AND (optionally) both self-join sides
    banded = _pin(
        _gen_cache("minhash_gate"),
        lsh_band_keys(sig, id_col, bands=bands, rows_per_band=rows_per_band),
    )
    idx = index.select("doc", "band", "key", *(
        ["bucket_n"] if "bucket_n" in index.columns else []
    ))
    if max_bucket is not None and "bucket_n" in idx.columns:
        idx = idx.filter(F.col("bucket_n") <= int(max_bucket))
    cross = (
        banded.alias("s")
        .join(
            idx.alias("c"),
            (F.col("s.band") == F.col("c.band"))
            & (F.col("s.key") == F.col("c.key"))
            & (F.col("s.doc") != F.col("c.doc")),
        )
        .select(
            F.least(F.col("s.doc"), F.col("c.doc")).alias("id_a"),
            F.greatest(F.col("s.doc"), F.col("c.doc")).alias("id_b"),
        )
    )
    if not include_shard_pairs:
        return cross.distinct()
    shard_banded = banded
    if max_bucket is not None:
        # no eager count/log here (the one-shot's warning job would run
        # once per gate call in the snapshot hot path) — the anti-join
        # applies the cap lazily; `banded` is pinned above, so the count
        # aggregation reads the cache, not a second signature pass
        hot = (
            banded.groupBy("band", "key")
            .count()
            .filter(F.col("count") > max_bucket)
        )
        shard_banded = banded.join(
            F.broadcast(hot.select("band", "key")), ["band", "key"],
            "left_anti",
        )
    within = (
        shard_banded.alias("a")
        .join(
            shard_banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
    )
    return cross.unionByName(within).distinct()


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of equal signature
    slots (verification step of the MinHash pipeline)."""
    s1 = signatures.select(F.col(signatures.columns[0]).alias("id_a"), F.col("signature").alias("sig_a"))
    s2 = signatures.select(F.col(signatures.columns[0]).alias("id_b"), F.col("signature").alias("sig_b"))
    return (
        pairs.join(s1, "id_a")
        .join(s2, "id_b")
        .withColumn(
            "jaccard_est",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda eq: eq,
                )
            ).cast("double")
            / F.size("sig_a"),
        )
        .select("id_a", "id_b", "jaccard_est")
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
) -> DataFrame:
    """SimHash of the token bag (default 32 bits, packed into a long).

    Per token a portable md5-derived integer supplies the bit pattern; for
    each bit position the groupBy sums +1/-1; the signature packs the sign
    bits. ONE groupBy(doc) with ``bits`` conditional sums — no row blowup,
    single shuffle of width ``bits``. Near-dup search = small Hamming
    distance, bucketable by signature chunks (same LSH trick as MinHash).
    """
    if bits > 32:
        raise ValueError("bits must be <= 32 (md5-derived 32-bit pattern)")
    toks = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode_outer(tokens_expr(F.col(text_col))).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .withColumn("x", _token_int32_expr(F.col("tok")))
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    summed = toks.groupBy("doc").agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(int(2**i)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return summed.select(F.col("doc").alias(id_col), sig.alias("simhash"))


def hamming_distance(col_a, col_b, bits: int = 32):
    """Hamming distance between two packed simhash longs (bit_count of xor)."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def _band_sig_rows_arrow(
    base: DataFrame, id_col: str, vec_col: str, planes_list, dim: int
) -> DataFrame:
    """(id, _band, _bkt) hyperplane-LSH signature rows for EVERY band in
    ONE ``mapInArrow`` pass (guide §4.2 — the r13 verdict's sanctioned
    Arrow form for this operator; A/B at 10x/100x the bench fixture:
    4.4x/3.6x faster than the interpreted per-row HOF transform, which
    pays n_bands * n_planes * dim lambda interpretations per row).

    BIT-EXACT with the HOF form by construction: each dot accumulates
    strictly left-to-right per element — ``acc + (v_d * p_d)`` with one
    IEEE rounding per product and per add, exactly ``aggregate`` over
    ``zip_with`` — so every sign decision, and therefore every bucket,
    is identical (verified exhaustively in tests and in the A/B).
    Expects non-null fixed-``dim`` double vectors (the embedding
    contract; enforced loudly per batch)."""
    import pyarrow as pa

    id_type = base.schema[id_col].dataType.simpleString()
    n_planes = len(planes_list[0])

    def fn(it):
        for batch in it:
            ids = batch.column(0)
            if isinstance(ids, pa.ChunkedArray):
                ids = ids.combine_chunks()
            vs = batch.column(1)
            if vs.null_count:
                raise ValueError(
                    "embedding_cosine_pairs: null vector in the LSH "
                    "banding pass — embeddings must be non-null"
                )
            flat = np.asarray(vs.flatten(), dtype=np.float64)
            if flat.size != len(vs) * dim:
                raise ValueError(
                    "embedding_cosine_pairs: ragged vector lengths in "
                    f"the LSH banding pass (expected dim {dim})"
                )
            V = flat.reshape(-1, dim)
            nb = len(V)
            out_ids, out_band, out_bkt = [], [], []
            for k, P in enumerate(planes_list):
                bucket = np.zeros(nb, dtype=np.int64)
                for i in range(n_planes):
                    p = P[i]
                    acc = np.zeros(nb)
                    for d in range(dim):
                        acc += V[:, d] * p[d]
                    bucket += np.where(acc > 0, np.int64(1) << i, 0)
                out_ids.append(ids)
                out_band.append(pa.array(np.full(nb, k, dtype=np.int32)))
                out_bkt.append(pa.array(bucket))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.concat_arrays(out_ids),
                    pa.concat_arrays(out_band),
                    pa.concat_arrays(out_bkt),
                ],
                names=[id_col, "_band", "_bkt"],
            )

    return base.select(id_col, vec_col).mapInArrow(
        fn, f"{id_col} {id_type}, _band int, _bkt long"
    )


def _cosine_verify_rows_arrow(
    joined: DataFrame, threshold: float, dim: int
) -> DataFrame:
    """Exact-cosine verification of candidate pairs in ONE
    ``mapInArrow`` pass over ``(_ida, _idb, _va, _vb, _na, _nb)`` rows
    — returns ``(id_a, id_b, cosine)`` filtered at ``threshold``.
    BIT-EXACT with the HOF form: the dot accumulates left-to-right per
    element, the denominator is the single product ``_na * _nb``, and
    the division rounds once — the same IEEE operation sequence as
    ``aggregate(zip_with(...)) / (_na * _nb)``, so the emitted pair set
    and every cosine value are identical (the LSH oracle's subset
    contract depends on this)."""
    import pyarrow as pa

    id_type = joined.schema["_ida"].dataType.simpleString()

    def fn(it):
        for batch in it:
            va = batch.column(2)
            vb = batch.column(3)
            if va.null_count or vb.null_count:
                raise ValueError(
                    "embedding_cosine_pairs: null vector in the exact-"
                    "cosine verify — embeddings must be non-null"
                )
            A = np.asarray(va.flatten(), dtype=np.float64)
            B = np.asarray(vb.flatten(), dtype=np.float64)
            nb = len(va)
            if A.size != nb * dim or B.size != nb * dim:
                raise ValueError(
                    "embedding_cosine_pairs: ragged vector lengths in "
                    f"the exact-cosine verify (expected dim {dim})"
                )
            A = A.reshape(-1, dim)
            B = B.reshape(-1, dim)
            acc = np.zeros(nb)
            for d in range(dim):
                acc += A[:, d] * B[:, d]
            denom = (
                np.asarray(batch.column(4), dtype=np.float64)
                * np.asarray(batch.column(5), dtype=np.float64)
            )
            cos = acc / denom
            keep = cos >= threshold
            keep_pa = pa.array(keep)

            def col(i):
                c = batch.column(i)
                if isinstance(c, pa.ChunkedArray):
                    c = c.combine_chunks()
                return c.filter(keep_pa)

            yield pa.RecordBatch.from_arrays(
                [col(0), col(1), pa.array(cos[keep])],
                names=["id_a", "id_b", "cosine"],
            )

    return joined.mapInArrow(
        fn, f"id_a {id_type}, id_b {id_type}, cosine double"
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_planes: int | None = None,
    seed: int = 42,
    n_bands: int = 1,
    max_bucket: int | None = 5000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine >= threshold).

    ``n_planes=None`` — exact all-pairs (nested-loop self-join with the
    cosine as a JVM-side higher-order-function expression). Quadratic: the
    oracle-verifiable baseline, fine up to ~10^4 vectors.

    ``n_planes=k`` — random-hyperplane LSH blocking: each vector gets a
    k-bit bucket signature, the self-join is an equi-join on the bucket,
    and only within-bucket pairs pay the exact cosine. Sub-quadratic with
    recall < 1 — the 100 TB scale path (same design as MinHash banding).

    ``n_bands=b > 1`` — OR-amplification: b INDEPENDENT k-bit signatures;
    a pair is a candidate if it collides in ANY band (recall
    1-(1-p^k)^b vs the single band's p^k, p = 1 - angle/pi). The exploded
    (id, band, bucket) rows carry no vectors, so the band equi-join
    shuffles only slim signature rows; candidate ids are de-duplicated
    BEFORE the vectors are joined back for the exact cosine.

    ``max_bucket`` (ON by default, LSH paths only) drops buckets holding
    more than that many vectors before the self-join — the same skew
    guard as :func:`minhash_lsh_candidates`: one degenerate bucket (e.g.
    the all-zeros bucket every near-zero embedding lands in) turns the
    equi-join quadratic. Dropped buckets are logged; ``max_bucket=None``
    restores the uncapped join. The exact all-pairs path ignores it."""
    import logging

    from .similarity import hyperplane_lsh_buckets

    log = logging.getLogger("prague_spark.dedup")

    from .similarity import _norm_safe

    # before either LSH branch: the Arrow signature pass packs plane i as
    # np.int64(1) << i, which overflows past 63 planes
    if n_planes is not None and not 1 <= n_planes <= 63:
        raise ValueError(
            f"embedding_cosine_pairs: n_planes={n_planes} must be in "
            "1..63 — the bucket id packs one sign bit per plane into a "
            "signed 64-bit long, whose 63 value bits fit planes 1..63 "
            "(use n_bands of smaller signatures for more planes)"
        )
    _evict_generation(_gen_cache("cosine_pairs"))
    # norm floored at 1e-12: an all-zero embedding must rank as
    # cosine ~0, not raise DIVIDE_BY_ZERO under ANSI mode (greatest is
    # bitwise-identity for real vectors, so existing hashes don't move)
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).withColumn("_n", _norm_safe(F.col("_v")))
    dot_ab = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    if n_planes is not None and n_bands > 1:
        # array<double> vectors (the engine's embedding contract) take
        # the ONE-PASS MapInArrow signature route — bit-identical
        # buckets (see _band_sig_rows_arrow), ~4x cheaper than
        # interpreting n_bands * n_planes * dim HOF lambdas per row at
        # scale. Any other element type keeps the HOF form, whose mixed
        # float/double promotion semantics the Arrow pass does not
        # reproduce.
        arrow_ok = dict(df.dtypes).get(vec_col) == "array<double>"
        if arrow_ok:
            dim = int(base.select(F.size("_v")).first()[0])
            planes_list = [
                np.random.default_rng(seed + 7919 * k).normal(
                    size=(n_planes, dim)
                )
                for k in range(n_bands)
            ]
            base = _pin(_gen_cache("cosine_pairs"), base)
            sig = _band_sig_rows_arrow(base, "_id", "_v", planes_list, dim)
        else:
            for k in range(n_bands):
                base = hyperplane_lsh_buckets(
                    base, "_v", n_planes=n_planes, seed=seed + 7919 * k,
                    out=f"_bkt{k}",
                )
            base = _pin(_gen_cache("cosine_pairs"), base)
            sig = base.select(
                "_id",
                F.posexplode(
                    F.array(*[F.col(f"_bkt{k}") for k in range(n_bands)])
                ).alias("_band", "_bkt"),
            )
        if max_bucket is not None:
            sig = _pin(_gen_cache("cosine_pairs"), sig)
            hot = _pin(
                _gen_cache("cosine_pairs"),
                sig.groupBy("_band", "_bkt")
                .count()
                .filter(F.col("count") > max_bucket),
            )
            if hot.count():
                log.warning(
                    "embedding_cosine_pairs: dropping over-full LSH buckets "
                    "(> %d members) before the band self-join", max_bucket,
                )
            sig = sig.join(
                F.broadcast(hot.select("_band", "_bkt")),
                ["_band", "_bkt"], "left_anti",
            )
        cand = (
            sig.alias("sa")
            .join(
                sig.alias("sb"),
                (F.col("sa._band") == F.col("sb._band"))
                & (F.col("sa._bkt") == F.col("sb._bkt"))
                & (F.col("sa._id") < F.col("sb._id")),
            )
            .select(
                F.col("sa._id").alias("_ida"), F.col("sb._id").alias("_idb")
            )
            .distinct()
        )
        va = base.select(
            F.col("_id").alias("_ida"),
            F.col("_v").alias("_va"), F.col("_n").alias("_na"),
        )
        vb = base.select(
            F.col("_id").alias("_idb"),
            F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
        )
        if arrow_ok:
            # exact verify through the same Arrow boundary — candidate
            # volume is the scale driver here, and the per-pair dim-wide
            # HOF dot was the remaining interpreted per-row cost; the
            # emitted pairs and cosines are bit-identical (see
            # _cosine_verify_rows_arrow — the LSH oracle's subset
            # contract against the HOF exact baseline depends on it)
            joined = (
                cand.join(va, "_ida")
                .join(vb, "_idb")
                .select("_ida", "_idb", "_va", "_vb", "_na", "_nb")
            )
            return _cosine_verify_rows_arrow(joined, threshold, dim)
        dot = F.aggregate(
            F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (
            cand.join(va, "_ida")
            .join(vb, "_idb")
            .withColumn("cosine", dot / (F.col("_na") * F.col("_nb")))
            .filter(F.col("cosine") >= threshold)
            .select(
                F.col("_ida").alias("id_a"),
                F.col("_idb").alias("id_b"),
                "cosine",
            )
        )
    if n_planes is not None:
        base = hyperplane_lsh_buckets(base, "_v", n_planes=n_planes, seed=seed, out="_bkt")
    base = _pin(_gen_cache("cosine_pairs"), base)
    if n_planes is not None and max_bucket is not None:
        hot = _pin(
            _gen_cache("cosine_pairs"),
            base.groupBy("_bkt").count().filter(F.col("count") > max_bucket),
        )
        if hot.count():
            log.warning(
                "embedding_cosine_pairs: dropping over-full LSH buckets "
                "(> %d members) before the bucket self-join", max_bucket,
            )
        base = base.join(
            F.broadcast(hot.select("_bkt")), "_bkt", "left_anti"
        )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if n_planes is not None:
        cond = (F.col("a._bkt") == F.col("b._bkt")) & cond
    return (
        a.join(b, cond)
        .withColumn("cosine", dot_ab / (F.col("a._n") * F.col("b._n")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            "cosine",
        )
    )


#: one-generation pinned-storage registries, one per pair generator PER
#: THREAD: each call frees its OWN previous call's caches at entry, so a
#: per-shard curation loop never accumulates pinned executor storage
#: (the leak embedding_cell_pairs used to have — now the discipline for
#: every generator that persists an intermediate). THREAD-LOCAL so two
#: concurrent callers in one SparkContext (Spark's scheduler is
#: thread-safe; pipelines do fan out) cannot evict each other's live
#: caches mid-plan. The residual leak is bounded and documented: a
#: thread that exits without a subsequent generator call leaves its last
#: generation pinned until session end — free it explicitly with
#: ``_evict_generation(_gen_cache(name))`` if that matters. Interleaved
#: calls to the SAME generator from ONE thread (build two shards' pair
#: frames, materialize later) still evict each other — materialize (or
#: ``persist=False``) before the next call.
_GEN_LOCAL = threading.local()


def _gen_cache(name: str) -> list:
    """The calling thread's one-generation registry for generator
    ``name`` (cell_pairs / cosine_pairs / jaccard / minhash /
    minhash_gate / minhash_extend / contam / spans)."""
    caches = getattr(_GEN_LOCAL, "caches", None)
    if caches is None:
        caches = _GEN_LOCAL.caches = {}
    return caches.setdefault(name, [])


#: PROCESS-GLOBAL refcounts keyed by semanticHash of pinned plans.
#: Spark uncaches BY PLAN, not by handle, and its cache manager is
#: JVM-global: two pins whose plans are canonically equal (e.g.
#: minhash_lsh_candidates' band frame and a minhash_candidates_against
#: call's, over the same inputs) share ONE cache entry — from ANY
#: thread. Evicting the stale generation of one registry would
#: silently unpersist the other registry's LIVE pin mid-query
#: (observed: the dedup_minhash_lsh plan pin flipping under full-suite
#: order), so eviction only unpersists when no other live pin —
#: whichever thread owns it — holds the same semantic hash. The
#: REGISTRIES stay thread-local (generation ownership), the COUNTS are
#: global to match the cache manager's scope. Known accepted edges:
#: a 32-bit semanticHash collision between unrelated live pins skips
#: one unpersist (a single frame stays pinned until session end —
#: ~2^-32 per pair); a pin whose semanticHash call raised falls back
#: to an identity key, so a plan-equal KEYED pin's eviction can still
#: free it (semanticHash on an analyzed frame essentially never
#: raises).
_PIN_COUNTS: dict = {}
_PIN_LOCK = threading.Lock()


def _evict_generation(cache: list, blocking: bool = False) -> None:
    """Unpersist and drop every frame a previous call left pinned.
    Runs UNCONDITIONALLY at generator entry (a persist-free 100 TB run
    must not inherit a smoke-test call's pinned cache); tolerates
    handles from a stopped/replaced SparkSession. Entries whose plan a
    LIVE pin still shares (see ``_PIN_COUNTS``) are dropped from the
    registry without unpersisting — the shared cache entry is the
    live pin's to free."""
    while cache:
        df, h = cache.pop()
        # the unpersist stays INSIDE the lock: releasing between the
        # count check and the unpersist would let a concurrent _pin of a
        # plan-equal frame register a live pin whose shared JVM cache
        # entry this eviction then frees — the same cross-registry flip
        # the refcount exists to prevent, in a narrower window. _pin
        # persists under the same lock, so the two can never interleave
        # around one cache entry (and never nest: no deadlock).
        with _PIN_LOCK:
            n = _PIN_COUNTS.get(h, 0) - 1
            if n > 0:
                _PIN_COUNTS[h] = n
                continue  # another live pin shares this cache entry
            _PIN_COUNTS.pop(h, None)
            try:
                df.unpersist(blocking)
            except Exception:  # dead JVM context — nothing left to free
                pass


def _pin(cache: list, df: DataFrame) -> DataFrame:
    """persist() + track in the generator's one-generation registry
    (refcounted globally by plan hash — see ``_PIN_COUNTS``). The
    persist() call itself happens under ``_PIN_LOCK`` so it serializes
    against a concurrent eviction's count-check + unpersist of the same
    plan: whichever order the lock grants, the surviving pin's entry is
    live (persist marks lazily — holding the lock is cheap)."""
    try:
        h = ("sh", df.semanticHash())
    except Exception:  # analysis-stage oddity: identity key (unshared)
        h = ("id", id(df))
    with _PIN_LOCK:
        df = df.persist()
        _PIN_COUNTS[h] = _PIN_COUNTS.get(h, 0) + 1
    cache.append((df, h))
    return df


def _materialize_generation(cache: list) -> None:
    """Force each of a generator registry's pinned frames to populate
    its cache NOW (one count per pin). persist() marks lazily, so a
    pin's cached RDD only registers in the JVM's persistent-RDD map at
    first materialization — a caller about to open an id-diff tracking
    window (:func:`_eager_checkpoint_tracked` / :func:`_free_rdd_ids`,
    e.g. the streaming gate sink's cluster-state fold) must materialize
    the pins FIRST, or the pin's id lands inside the window and gets
    freed as if it were a superseded fold generation — every later
    consumer then recomputes the pinned pass and the registry holds an
    already-freed handle."""
    for df, _h in cache:
        df.count()


def embedding_cell_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    threshold: float = 0.9,
    max_cell: int | None = 100_000,
    persist: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster first, pay
    exact cosine only WITHIN clusters. Each vector is assigned its
    nearest coarse centroid (the :func:`~prague_spark.pipeline.
    similarity.assign_ivf_cells` codegen argmax over the literal
    centroid table — no shuffle), the self-join is an EQUI-join on the
    cell id, and within-cell pairs above ``threshold`` come out as
    (id_a, id_b, cosine). The published SemDeDup recipe: semantic
    duplicates co-cluster, so the candidate volume is
    sum_c |cell_c|^2 instead of |corpus|^2 — the blocking alternative
    to hyperplane LSH when a trained coarse quantizer already exists
    (share it with the IVF / IVF-PQ search index).

    Recall < 1 by construction: a near-dup pair split across a cell
    boundary is missed (LSH banding trades the same way; raise the
    centroid count for purer cells or lower it for higher recall).
    ``max_cell`` drops degenerate cells (e.g. a near-zero-vector
    attractor) before the self-join with a warning — one such cell
    would re-quadratize the join.

    The assignment (+ norm) frame is read three times (hot-cell count +
    both self-join sides), and its fold expressions dominate recompute
    cost, so by default it is PERSISTED — measured 2.3x at sf0.1.
    Pinned storage is bounded to ONE generation: each call frees the
    previous call's cache, so a per-shard curation loop never
    accumulates (the leak this used to have). ``persist=False`` pins
    nothing at all — the 100 TB path, where the corpus cannot live in
    executor storage anyway (materialize the assignment with
    ``similarity.write_ivf_index`` instead and join over the stored
    layout). The over-full cell list (at most ``len(centroids)`` rows)
    is collected driver-side from ONE count aggregation and pushed back
    as an ``isin`` filter. The one-generation cache is per calling
    thread (``_GEN_LOCAL`` is thread-local), so concurrent callers on
    different threads keep their own generations; two calls from ONE
    thread evict each other, so materialize the first (or pass
    ``persist=False``) before the second."""
    import logging

    from .similarity import _norm_safe, assign_ivf_cells

    log = logging.getLogger("prague_spark.dedup")
    base = assign_ivf_cells(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        "_v", centroids, out="_cell",
    ).withColumn(
        # floored at 1e-12 (similarity._norm_safe): a dead all-zero
        # vector must score cosine ~0, not DIVIDE_BY_ZERO under ANSI
        "_n",
        _norm_safe(F.col("_v")),
    )
    _evict_generation(_gen_cache("cell_pairs"))
    if persist:
        base = _pin(_gen_cache("cell_pairs"), base)
    if max_cell is not None:
        hot_cells = [
            r["_cell"]
            for r in base.groupBy("_cell").count()
            .filter(F.col("count") > max_cell).collect()
        ]
        if hot_cells:
            log.warning(
                "embedding_cell_pairs: dropping %d over-full cell(s) "
                "(> %d members) before the self-join",
                len(hot_cells), max_cell,
            )
            base = base.filter(~F.col("_cell").isin(hot_cells))
    dot_ab = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .withColumn("cosine", dot_ab / (F.col("a._n") * F.col("b._n")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            "cosine",
        )
    )


def embedding_cell_pairs_against(
    df: DataFrame,
    index: DataFrame,
    centroids,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    corpus_id_col: str | None = None,
    corpus_vec_col: str | None = None,
    cell_col: str = "cell",
    include_shard_pairs: bool = True,
) -> DataFrame:
    """Incremental SemDeDup: semantic near-dup pairs between a NEW shard
    and an already-indexed corpus — the :func:`embedding_cell_pairs`
    analogue of :func:`minhash_candidates_against`, completing the
    incremental story for the embedding tier. ``index`` is a
    :func:`~prague_spark.pipeline.similarity.write_ivf_index` layout (or
    any frame with id, vec and cell columns); ``centroids`` MUST be the
    constants the index was written with — load them from the index's
    model sidecar (``similarity.load_ivfpq_model`` on
    ``{path}/_ivfpq_model``) so they cannot drift.

    Plan: the shard assigns cells via the literal-centroid argmax (pure
    codegen, no shuffle), a cell EQUI-join against the index pays exact
    cosine only within cells — with a cell-partitioned index the join
    prunes at the scan, so the pass reads only the shard's |distinct
    shard cells| partitions. O(shard x avg cell) work, no corpus-wide
    aggregation. ``include_shard_pairs`` (default) adds the
    shard-internal pairs via the one-shot operator (persist-free), so
    restricted to shard-touching pairs the output is EXACTLY the
    one-shot pairs on (corpus ∪ shard) — pinned in tests. Returns
    (id_a, id_b, cosine >= threshold); ids ordered across sides, a
    shard doc present in the index never pairs with itself. Degenerate
    hot cells should be excluded at index-write time (the one-shot's
    ``max_cell`` semantics do not transfer: capping by shard-side
    counts would drop different cells than the build saw)."""
    from .similarity import _norm_safe, assign_ivf_cells

    corpus_id_col = corpus_id_col or id_col
    corpus_vec_col = corpus_vec_col or vec_col
    shard = assign_ivf_cells(
        df.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_sv")),
        "_sv", centroids, out=cell_col,
    ).withColumn("_sn", _norm_safe(F.col("_sv")))
    idx = index.select(
        F.col(corpus_id_col).alias("_cid"),
        F.col(corpus_vec_col).alias("_cv"),
        F.col(cell_col),
    ).withColumn("_cn", _norm_safe(F.col("_cv")))
    dot = F.aggregate(
        F.zip_with(F.col("_sv"), F.col("_cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cross = (
        shard.join(idx, cell_col)
        .filter(F.col("_sid") != F.col("_cid"))
        .withColumn("cosine", dot / (F.col("_sn") * F.col("_cn")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.least(F.col("_sid"), F.col("_cid")).alias("id_a"),
            F.greatest(F.col("_sid"), F.col("_cid")).alias("id_b"),
            "cosine",
        )
    )
    if not include_shard_pairs:
        return cross
    within = embedding_cell_pairs(
        df, id_col, vec_col, centroids, threshold=threshold,
        max_cell=None, persist=False,
    )
    return cross.unionByName(within)


def _persistent_rdd_ids(sc) -> set:
    """Ids of every RDD the JVM currently tracks as persistent."""
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _eager_checkpoint_tracked(df: DataFrame):
    """``localCheckpoint(eager=True)`` plus the persistent-RDD ids the
    call created, so a superseded generation can be FREED later
    (``DataFrame.unpersist()`` is a no-op on a checkpointed frame — its
    blocks belong to the internal RDD, not the cache manager). Id-diff
    attribution assumes no concurrent thread persists RDDs in the same
    SparkContext during the (synchronous, eager) call — a foreign id
    landing in the window would be freed with this generation;
    serialize against other cached work. The same applies to the
    calling thread's own LAZY pins: a :func:`_pin`-persisted frame
    only registers its cached RDD at first materialization, so a pin
    that feeds this checkpoint's input would register inside the
    window and be freed with the generation — callers whose input
    plans carry live pins must :func:`_materialize_generation` them
    first (the streaming gate sink does; the batch fold is safe
    because connected_components[_against] materialize their pair
    input through an untracked persist first — pinned in
    tests/test_curate.py). Shared by the CC iteration loop and the
    streaming cluster-state fold."""
    sc = df.sparkSession.sparkContext
    before = _persistent_rdd_ids(sc)
    out = df.localCheckpoint(eager=True)
    return out, _persistent_rdd_ids(sc) - before


def _free_rdd_ids(sc, ids) -> None:
    """Unpersist tracked checkpoint blocks through the JVM RDD handles
    (see :func:`_eager_checkpoint_tracked`)."""
    jmap = sc._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over an
    undirected candidate-pair edge list via min-label propagation.

    This is the step a production dedup pipeline runs AFTER the pair
    generators (minhash_lsh_candidates / ngram_jaccard_pairs /
    embedding_cosine_pairs): transitive closure groups near-duplicate
    pairs into clusters, and one canonical document per cluster (the
    minimum id, which IS the converged label) survives.

    Scale shape: each iteration is ONE join + groupBy over the edge list
    (O(|E|) shuffle, AQE-coalesced); iterations needed = graph diameter,
    which for dedup graphs (dense near-clique clusters) is small. No
    driver-side graph state — only the converged (node, cluster) frame.
    Returns (node, cluster_id) for every node appearing in ``pairs``.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    # localCheckpoint per iteration: materializes the new labels eagerly
    # (so unpersisting the previous generation never forces a recompute)
    # AND truncates the lineage, which would otherwise double per
    # iteration. Executor-local blocks — on executor loss the component
    # labels recompute from the re-run; acceptable for a batch operator.
    #
    # DataFrame.unpersist() is a NO-OP on a checkpointed frame (its blocks
    # belong to the internal RDD, not the cache manager), so superseded
    # generations are freed through the JVM RDD handle: each checkpoint
    # records the persistent-RDD ids it created, and _free_rdd_ids
    # unpersists them once the next generation has materialized. Without
    # this a deep graph holds every generation in executor storage
    # simultaneously.
    sc = pairs.sparkSession.sparkContext

    def _ckpt(df):
        return _eager_checkpoint_tracked(df)

    def _free(ids):
        _free_rdd_ids(sc, ids)

    labels, labels_ids = _ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    try:
        converged = False
        for _ in range(max_iter):
            neigh = (
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy("src")
                .agg(F.min("cluster_id").alias("_nl"))
            )
            # two-hop fold (optimization round 14): after the neighbor-min
            # update, jump once more through the PREVIOUS generation's
            # labels — new = min(mid, prev_label[mid]) (pointer jumping /
            # path halving). The prior generation is checkpointed, so the
            # jump is one slim O(V) equi-join per iteration with no
            # lineage recompute, while the label-propagation distance per
            # iteration roughly doubles — and at shard scale each
            # iteration's fixed job latency (checkpoint + convergence
            # count) dominates the fold, so halving the rounds halves the
            # wall. The fixed point is unchanged: labels are always
            # same-component node ids and decrease monotonically (the
            # jump target prev_label[mid] is itself a same-component
            # label), and a zero-change iteration under the fused
            # operator forces mid == old for every node (old >= mid >=
            # fused == old), i.e. the plain neighbor-min operator is
            # stable too — so the fold converges to exactly the
            # component-minimum labels the one-hop loop produces (pinned
            # by the cc oracles and the two-hop regression test).
            prior = labels.select(
                F.col("node").alias("_jn"), F.col("cluster_id").alias("_jc")
            )
            mid = labels.join(
                neigh, labels["node"] == neigh["src"], "left"
            ).select(
                F.col("node"),
                F.col("cluster_id").alias("_old"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("_nl"), F.col("cluster_id")),
                ).alias("_mid"),
            )
            updated, updated_ids = _ckpt(
                mid.join(prior, mid["_mid"] == prior["_jn"], "left")
                .select(
                    F.col("node"),
                    F.col("_old"),
                    F.least(
                        F.col("_mid"),
                        F.coalesce(F.col("_jc"), F.col("_mid")),
                    ).alias("cluster_id"),
                )
            )
            changed = updated.filter(F.col("cluster_id") < F.col("_old")).count()
            # the new generation is materialized and lineage-truncated —
            # the previous generation's blocks are dead weight now
            _free(labels_ids)
            labels, labels_ids = updated.select("node", "cluster_id"), updated_ids
            if changed == 0:
                converged = True
                break
        if not converged:
            raise ValueError(
                f"connected_components did not converge in {max_iter} "
                "iterations (graph diameter exceeds the budget) — raise "
                "max_iter; returning partial labels would split clusters "
                "silently"
            )
        return labels
    except Exception:
        # nothing is returned on an error path (non-convergence included),
        # so the live generation's checkpoint blocks would leak for the
        # rest of the session — free them before re-raising
        _free(labels_ids)
        raise
    finally:
        edges.unpersist()


def eval_minima_index(
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Collapsed decontamination index: ONE row per distinct eval-set
    winnowing minimum, with its eval-document count pre-aggregated
    (``wmin``, ``_eval_df``). Shared by the batch :func:`contamination`
    join and the streaming probe
    (``streaming.dedup.contamination_stream`` — collect this index for
    it); one definition so batch and stream keys can never drift."""
    from .text import winnow_minima

    return (
        winnow_minima(eval_df, id_col, text_col, k, w)
        .groupBy("wmin")
        .agg(F.count("*").alias("_eval_df"))
    )


def contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Train/eval contamination check (the GPT-3-style n-gram
    decontamination pass): flag every training document that shares at
    least one winnowing fingerprint minimum (character ``k``-gram rolling
    hash, window ``w`` — see ``text.winnow_minima``) with any eval
    document.

    Returns one row per contaminated training document:
    ``(id, n_shared, max_eval_df, contamination)`` where ``n_shared``
    counts the distinct shared minima, ``contamination`` =
    n_shared / |train doc minima|, and ``max_eval_df`` is the largest
    per-minimum eval document frequency among the shared minima (1 means
    every shared fingerprint is specific to a single eval doc — a strong
    contamination signal; a high value means the overlap is boilerplate).

    Scale design: both sides reduce to their winnowing-minima inverted
    index (|minima| << |k-grams| — winnowing keeps ~1/w of positions,
    distinct-collapsed), and the eval side COLLAPSES TO ONE ROW PER
    DISTINCT MINIMUM (with its eval-doc count pre-aggregated) before the
    join. That makes the join output at most |train minima| rows —
    linear, never the train-count x eval-count cross product a
    boilerplate-heavy minimum would otherwise produce (a shared
    ubiquitous n-gram must not explode the pass; at web scale it
    otherwise would, catastrophically). The collapsed eval index of a
    real decontamination run (benchmark suites) is small, so Spark
    broadcasts it and the train side never shuffles for the join."""
    from .text import winnow_minima

    # persisted: consumed by BOTH the per-doc sizes aggregation and the
    # hits join — without it the O(len*w) md5 winnowing scan of the whole
    # training corpus runs twice (same pattern as ngram_jaccard_pairs)
    _evict_generation(_gen_cache("contam"))
    t = _pin(
        _gen_cache("contam"), winnow_minima(train_df, id_col, text_col, k, w).alias("t")
    )
    e_idx = eval_minima_index(eval_df, id_col, text_col, k, w)
    sizes = t.groupBy(id_col).agg(F.count("*").alias("_n_minima"))
    hits = (
        t.join(e_idx, "wmin")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shared"),
            F.max("_eval_df").alias("max_eval_df"),
        )
    )
    return hits.join(sizes, id_col).select(
        id_col,
        "n_shared",
        "max_eval_df",
        F.round(F.col("n_shared") / F.col("_n_minima"), 6).alias("contamination"),
    )


def connected_components_against(
    assign: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Incremental :func:`connected_components`: fold a NEW shard's
    candidate pairs (typically :func:`minhash_candidates_against`
    output) into a PRIOR cluster assignment, producing EXACTLY the
    labels a one-shot closure over (all prior pairs ∪ new pairs) would
    — pinned in tests and by the ``incm`` oracle slice — without ever
    touching the prior EDGE list again.

    The prior assignment is a lossless stand-in for the prior edges:
    each cluster's star (member -> min-label representative) generates
    the identical connectivity as the original pair set's transitive
    closure, and the representative IS the component minimum, so
    min-label propagation over (stars ∪ new pairs) converges to the
    same labels as over the raw union. Only clusters containing a node
    the new pairs touch can change, so the propagation runs on that
    SUBGRAPH alone and every untouched cluster passes through verbatim:
    the per-snapshot cost is O(new pairs + affected-cluster members)
    per iteration — never O(corpus edges), the point of the incremental
    tier. Iterations needed = diameter of the COLLAPSED graph (prior
    clusters are depth-1 stars), usually below the raw graph's.

    ``assign``: (node, cluster_id) from :func:`connected_components` or
    a previous merge — labels must be the component-minimum ids both
    produce (validated per batch: a representative absent from its own
    cluster fails loud). Returns the same shape covering prior nodes ∪
    new-pair nodes. Labels of merged clusters CHANGE (to the union
    component's minimum id) — downstream state keyed by cluster_id must
    re-key, which is inherent to min-label canon, not this operator."""
    for c in ("node", "cluster_id"):
        if c not in assign.columns:
            raise ValueError(
                f"connected_components_against: prior assignment lacks "
                f"column {c!r} — expected connected_components output "
                "(node, cluster_id)"
            )
    # pin a PROJECTION of the caller's pair frame (never the caller's
    # own handle — unpersisting that would evict their cache) for the
    # duration of the call: it is consumed by the affected-cluster walk
    # and the closure's edge build, both of which materialize eagerly
    # below, so the pin is dropped before returning the lazy result
    np_pinned = new_pairs.select(id_a, id_b).persist()
    try:
        touched = (
            np_pinned.select(F.col(id_a).alias("node"))
            .unionByName(np_pinned.select(F.col(id_b).alias("node")))
            .distinct()
        )
        # the only prior clusters whose labels can change are those with
        # a member among the new pairs' nodes — two slim equi-joins.
        # Eager localCheckpoint: the frame is tiny (one id per affected
        # cluster) and the returned untouched-branch plan must scan THIS,
        # not re-derive the shard's whole pair pipeline at output time
        # (same lineage-truncation discipline as connected_components;
        # like the labels it returns, the blocks live for the session).
        affected = (
            assign.join(touched, "node", "left_semi")
            .select("cluster_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        # consumed by the validation count AND the closure's edge build
        sub = assign.join(affected, "cluster_id", "left_semi").persist()
        try:
            # every affected cluster must contain its own representative
            # — otherwise the star under-connects and the closure
            # silently splits (a truncated/filtered frame, not a valid
            # prior state)
            n_bad = (
                sub.select(F.col("cluster_id").alias("node")).distinct()
                .join(sub.select("node"), "node", "left_anti")
                .count()
            )
            if n_bad:
                raise ValueError(
                    f"connected_components_against: {n_bad} cluster_id(s) "
                    "in the prior assignment have no corresponding member "
                    "row — the assignment is truncated or filtered, and "
                    "merging against it would silently split clusters"
                )
            stars = sub.filter(F.col("node") != F.col("cluster_id")).select(
                F.col("node").alias(id_a), F.col("cluster_id").alias(id_b)
            )
            merged = connected_components(
                stars.unionByName(np_pinned),
                id_a, id_b, max_iter=max_iter,
            )
        finally:
            sub.unpersist()
    finally:
        np_pinned.unpersist()
    untouched = assign.join(affected, "cluster_id", "left_anti")
    return untouched.select("node", "cluster_id").unionByName(merged)


def write_assignment(assign: DataFrame, path: str) -> None:
    """Persist a cluster assignment (:func:`connected_components` or
    :func:`connected_components_against` output) as parquet — the
    CLUSTER-STATE snapshot that completes the incremental dedup loop:
    per crawl snapshot, fold the new shard's pairs into
    :func:`read_assignment` of the previous snapshot's state, then
    write the merged labels forward. One (node, cluster_id) column
    pair, column-validated on write; the min-label invariant the fold
    depends on is validated at READ time (:func:`read_assignment`),
    where a truncated or hand-edited file would otherwise enter the
    pipeline. Overwrites ``path`` (states are per-snapshot outputs, not
    roll-forward indexes — there is no partial-append form to
    protect)."""
    for c in ("node", "cluster_id"):
        if c not in assign.columns:
            raise ValueError(
                f"write_assignment: assignment lacks column {c!r} — "
                "expected connected_components output (node, cluster_id)"
            )
    assign.select("node", "cluster_id").write.mode("overwrite").parquet(path)


def read_assignment(
    spark, path: str, validate: bool = True
) -> DataFrame:
    """Load a :func:`write_assignment` parquet for the next snapshot's
    fold. ``validate`` (default ON) re-checks the two invariants
    :func:`connected_components_against` silently depends on across the
    disk boundary: every ``cluster_id`` appears as its own member row
    (a representative missing — e.g. a truncated copy — would
    under-connect the star and SPLIT clusters at the next fold), and no
    node appears twice (a doubled write would duplicate every untouched
    row of the fold's output). Two assignment-sized aggregations;
    ``validate=False`` skips them when the state is huge and the caller
    trusts the writer — the fold itself still validates the AFFECTED
    clusters per batch."""
    df = spark.read.parquet(path)
    for c in ("node", "cluster_id"):
        if c not in df.columns:
            raise ValueError(
                f"read_assignment: {path!r} lacks column {c!r} — not a "
                "write_assignment parquet"
            )
    df = df.select("node", "cluster_id")
    if validate:
        n_bad = (
            df.select(F.col("cluster_id").alias("node")).distinct()
            .join(df.select("node"), "node", "left_anti")
            .count()
        )
        if n_bad:
            raise ValueError(
                f"read_assignment: {n_bad} cluster_id(s) in {path!r} "
                "have no corresponding member row — the state is "
                "truncated or filtered; folding against it would "
                "silently split clusters"
            )
        n_dup = (
            df.groupBy("node").count().filter(F.col("count") > 1).count()
        )
        if n_dup:
            raise ValueError(
                f"read_assignment: {n_dup} node(s) in {path!r} appear "
                "more than once — a doubled write? folding against it "
                "would duplicate untouched rows"
            )
    return df


def canonical_by_score(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str,
    score_col: str,
    node_col: str = "node",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Pick the KEEPER of each duplicate cluster by quality, not by id.

    ``connected_components`` canonicalizes on the minimum id — fine for
    dedup bookkeeping, wrong for corpus curation, where the cluster's
    highest-QUALITY member should survive (e.g. ``text.quality_score``).
    Joins the (node, cluster_id) assignment with a per-doc score and keeps
    the argmax per cluster (score desc, id asc tie-break, so the result is
    deterministic).

    Returns (cluster_id, id, score, n_members).

    Scale shape: one broadcast-or-shuffle join on id + ONE window over
    cluster_id (clusters are near-dup groups — a handful of members each,
    so no skewed-partition risk; a pathological mega-cluster signals a
    banding bug upstream, not a curation input)."""
    from pyspark.sql import Window

    scored = clusters.join(
        docs.select(
            F.col(id_col).alias(node_col), F.col(score_col).alias("_score")
        ),
        node_col,
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.col("_score").desc(), F.col(node_col).asc()
    )
    cnt = Window.partitionBy(cluster_col)
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(cnt))
        .filter(F.col("_rk") == 1)
        .select(
            F.col(cluster_col),
            F.col(node_col).alias(id_col),
            F.col("_score").alias(score_col),
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# exact-substring duplicate spans (the Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" pass, re-expressed as
# relational operators instead of a suffix array)
# ---------------------------------------------------------------------------

def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 20,
    min_count: int = 2,
    persist: bool = True,
) -> DataFrame:
    """Maximal token spans whose every length-``k`` window recurs in the
    corpus — the exact-substring dedup tier BETWEEN document-level
    near-dup (MinHash/SimHash) and fingerprint decontamination: two
    otherwise-distinct documents sharing a boilerplate paragraph get
    that paragraph (and only it) flagged, where whole-document Jaccard
    never fires. Token-resolution port of the suffix-array recipe in
    Lee et al. 2022: a position is duplicated iff some corpus k-gram
    occurring >= ``min_count`` times covers it (within-document repeats
    count, as in the paper), and runs of duplicated k-gram starts closer
    than ``k`` merge into one span.

    Returns one row per maximal span: ``(id, span_start, span_end,
    n_dup_grams)`` with INCLUSIVE token indices into the whitespace
    tokenization of the lowercased text (``text.tokens_expr``).

    Scale design (a suffix array is the one thing Spark cannot build
    cheaply; this needs none): one O(total tokens) posexplode of md5
    k-gram hashes, ONE hash-keyed aggregation for the recurring-gram
    set, a semi-join back (AQE broadcasts it when small), then two
    per-document windows (lag + running sum) for the gaps-and-islands
    merge. No step is quadratic in anything; the heavy shuffle is the
    gram-hash aggregation, which is the problem's lower bound. Documents
    shorter than ``k`` tokens emit no grams and so no spans.

    The (id, pos, gram-hash) frame feeds BOTH the recurring-gram
    aggregation and the semi-join probe side; it is persisted (one
    generation, freed by the next call — the module discipline) so the
    dominant tokenize+md5 scan runs once, not twice. ``persist=False``
    pins nothing (the 100 TB path: materialize the gram frame yourself
    if two scans are worse than storage)."""
    pos_grams = _span_gram_positions(df, id_col, text_col, k)
    _evict_generation(_gen_cache("spans"))
    if persist:
        pos_grams = _pin(_gen_cache("spans"), pos_grams)
    recurring = (
        pos_grams.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_h")
    )
    hits = pos_grams.join(recurring, "_h", "left_semi")
    return _merge_islands(hits, id_col, k)


def _span_gram_positions(df, id_col, text_col, k):
    """(id, pos, md5 k-gram hash) rows — ngrams_expr's sliding window
    (identical to the hand-rolled form for size >= k; the guard excludes
    its short-doc partial gram)."""
    toks = tokens_expr(F.col(text_col))
    grams = F.when(
        F.size(toks) >= k,
        F.transform(ngrams_expr(toks, k), F.md5),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("_id"), F.posexplode(grams).alias("_pos", "_h")
    )


def _merge_islands(hits, id_col, k):
    """Gaps-and-islands merge of duplicated gram-start positions into
    maximal spans (two per-document windows)."""
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy("_pos")
    islands = hits.withColumn(
        "_brk",
        F.when(F.col("_pos") - F.lag("_pos").over(w) > k, 1).otherwise(0),
    ).withColumn(
        "_isl",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("_id", "_isl")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + F.lit(k - 1)).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start", "span_end", "n_dup_grams",
        )
    )


def write_span_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 20,
    min_count: int = 2,
) -> None:
    """Materialize the corpus's recurring-k-gram hash set — the
    substring-dedup INDEX of the incremental pipeline: build it once
    over the existing corpus (one gram aggregation), then gate every
    new shard with :func:`duplicate_spans_against` instead of
    re-aggregating 100 TB per shard. One (hash) column, stored with the
    occurrence count for re-thresholding at read time."""
    (
        _span_gram_positions(df, id_col, text_col, k)
        .groupBy("_h")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
        .select(
            F.col("_h").alias("gram_md5"), "n_occurrences",
            # the window size travels WITH the index: hashes of
            # different-length grams never match, so a k mismatch at
            # read time would silently flag nothing. min_count travels
            # too: extend_span_index must know whether sub-threshold
            # counts were DISCARDED at build time (any min_count > 1
            # makes the index unextendable — the lost counts can never
            # be recovered, only rebuilt).
            F.lit(int(k)).alias("k"),
            F.lit(int(min_count)).alias("min_count"),
        )
        .write.mode("overwrite").parquet(path)
    )


def extend_span_index(
    df: DataFrame,
    in_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 20,
) -> None:
    """Roll the recurring-gram index forward one snapshot: count the
    NEW shard's k-gram hashes, merge them into an existing
    :func:`write_span_index` parquet (summed ``n_occurrences`` per
    hash), and write to ``out_path`` — exactly the index a one-shot
    build on (old corpus ∪ shard) with ``min_count=1`` produces,
    pinned in tests, at O(index rows + shard tokens) cost: the corpus
    text is never re-tokenized. Only a ``min_count=1`` index is
    extendable — a thresholded build DISCARDED its sub-threshold
    counts, so merging would undercount grams that cross the threshold
    only across snapshots (a gram once in the corpus, once in the
    shard); that fails loud here via the carried ``min_count`` column
    (legacy indexes carrying neither ``k`` nor ``min_count`` are
    treated as caller-vouched, the module's bare-frame precedent).
    Threshold at PROBE time instead:
    ``index.filter("n_occurrences >= t")`` before
    :func:`duplicate_spans_against`. ``out_path`` must differ from
    ``in_path`` (Spark cannot overwrite its own input)."""
    _require_distinct_out("extend_span_index", in_path, out_path)
    spark = df.sparkSession
    index = spark.read.parquet(in_path)
    # one combined distinct-value aggregation over whichever carried
    # parameter columns exist (legacy indexes may lack either)
    carried = [c for c in ("k", "min_count") if c in index.columns]
    if carried:
        vals = index.select(
            *[F.collect_set(c).alias(c) for c in carried]
        ).first()
    if "k" in carried:
        idx_ks = sorted(int(v) for v in vals["k"])
        if len(idx_ks) > 1 or (idx_ks and idx_ks[0] != int(k)):
            raise ValueError(
                f"extend_span_index: index k={idx_ks} does not match the "
                f"requested k={k} — md5 hashes of different-length grams "
                "never match, so the merged counts would be meaningless"
            )
    if "min_count" in carried:
        mcs = sorted(int(v) for v in vals["min_count"])
        if mcs != [1]:
            raise ValueError(
                f"extend_span_index: index was built with min_count="
                f"{mcs} — its sub-threshold gram counts were discarded "
                "at build time and cannot be recovered by merging; "
                "rebuild with write_span_index(min_count=1) to get an "
                "extendable index"
            )
    (
        _span_index_rows(index, df, id_col, text_col, k=k)
        .write.mode("overwrite").parquet(out_path)
    )


def _span_index_rows(
    index: DataFrame, df: DataFrame, id_col: str, text_col: str, *, k: int
) -> DataFrame:
    """The gram-count merge frame :func:`extend_span_index` writes —
    shard k-gram hash counts unioned into the stored index and
    re-summed per hash — exposed separately (the
    :func:`_content_index_rows` convention) so bench/plan pins can
    audit the roll-forward's plan without performing the write."""
    add = (
        _span_gram_positions(df, id_col, text_col, k)
        .groupBy("_h")
        .agg(F.count("*").alias("n_occurrences"))
        .select(F.col("_h").alias("gram_md5"), "n_occurrences")
    )
    return (
        index.select("gram_md5", "n_occurrences").unionByName(add)
        .groupBy("gram_md5")
        .agg(F.sum("n_occurrences").cast("long").alias("n_occurrences"))
        .select(
            "gram_md5", "n_occurrences",
            F.lit(int(k)).alias("k"),
            F.lit(1).alias("min_count"),
        )
    )


def duplicate_spans_against(
    df: DataFrame,
    recurring: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 20,
) -> DataFrame:
    """Incremental :func:`duplicate_spans`: flag spans of ``df`` (a new
    shard) whose every k-gram already recurs in a PRE-BUILT index
    (:func:`write_span_index` output, or any frame with a ``gram_md5``
    column). Semantics delta from the one-shot form, by design: only
    index recurrence counts — a gram repeated within the new shard but
    absent from the index is NOT flagged (union the shard into the
    index, or run the one-shot form on it, to catch those).

    The plan is a semi-join + the per-document windows — NO corpus-wide
    aggregation, so a shard's pass costs O(shard tokens), not
    O(corpus). Every step is stream-safe except the island windows, so
    a streaming shard gate runs this in foreachBatch (a document's
    positions co-arrive; exactness is pinned in tests)."""
    if "k" in recurring.columns:  # write_span_index output: fail loud
        # validate against the DISTINCT k values, not one arbitrary row:
        # an index unioned from two builds with different k would pass or
        # fail a single-row sample nondeterministically (row order), then
        # silently mis-gate the other partition's grams. Index-sized agg.
        idx_ks = sorted(
            int(r["k"])
            for r in recurring.select("k").distinct().collect()
            if r["k"] is not None
        )
        if len(idx_ks) > 1:
            raise ValueError(
                f"duplicate_spans_against: index mixes window sizes "
                f"k={idx_ks} (a union of differently-built indexes?) — "
                "md5 hashes of different-length grams never match, so "
                "part of the gate would silently flag nothing"
            )
        if idx_ks and idx_ks[0] != int(k):
            raise ValueError(
                f"duplicate_spans_against: index was built with k="
                f"{idx_ks[0]} but k={k} was requested — md5 "
                "hashes of different-length grams never match, so the "
                "gate would silently flag nothing"
            )
    pos_grams = _span_gram_positions(df, id_col, text_col, k)
    hits = pos_grams.join(
        recurring.select(F.col("gram_md5").alias("_h")), "_h", "left_semi"
    )
    return _merge_islands(hits, id_col, k)


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out: str = "clean_text",
) -> DataFrame:
    """Drop every token covered by a :func:`duplicate_spans` row and
    reassemble the remainder (single-space joined — the operator works
    at token resolution, so original whitespace is not preserved).
    Documents with no spans pass through verbatim-tokenized; documents
    entirely covered keep their row with ``out`` = ''.

    The span->position expansion is an explode of ``sequence(start,
    end)`` followed by an (id, pos) EQUI anti-join — never a range theta
    join — so the cost is O(total tokens + total covered positions)."""
    if out in df.columns:
        # the closing select emits _d.* PLUS the alias(out) column — a
        # pre-existing column of the same name would come out duplicated
        # and every downstream reference ambiguous. Fail loud (the
        # module's convention), don't silently shadow.
        raise ValueError(
            f"remove_duplicate_spans: df already has a column named "
            f"{out!r} — pass a different `out` (or drop the column first)"
        )
    # no distinct(): duplicate right-side rows cannot change a left_anti
    # join's output, and duplicate_spans' maximal spans never overlap
    # anyway — a distinct here would be a whole extra shuffle
    covered = spans.select(
        F.col(id_col).alias("_id"),
        F.explode(F.sequence("span_start", "span_end")).alias("_pos"),
    )
    toks_pos = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens_expr(F.col(text_col))).alias("_pos", "_tok"),
    )
    kept = toks_pos.join(covered, ["_id", "_pos"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias(out)
    )
    return (
        df.alias("_d")
        .join(
            rebuilt.withColumnRenamed("_id", "_rb_id"),
            F.col(id_col) == F.col("_rb_id"),
            "left",
        )
        .select("_d.*", F.coalesce(F.col(out), F.lit("")).alias(out))
    )


def span_dup_stats(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out: str = "dup_token_frac",
) -> DataFrame:
    """Per-document duplicated-token fraction from a
    :func:`duplicate_spans` frame — the gate metric (drop documents
    whose duplicate fraction exceeds a budget, keep-and-strip the
    rest). Span lengths sum per document (maximal spans never overlap,
    so the sum IS the covered-token count) and divide by the document's
    token count; documents with no spans score 0.0.

    ONE model-free aggregation over the span frame (already tiny
    relative to the corpus) + one join — no re-tokenization of covered
    positions, no explode."""
    covered = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("_cov")
    )
    ntok = F.size(tokens_expr(F.col(text_col)))
    return (
        df.join(covered.withColumnRenamed(id_col, "_sd_id"),
                F.col(id_col) == F.col("_sd_id"), "left")
        .drop("_sd_id")
        .withColumn(
            out,
            F.when(
                ntok > 0,
                F.coalesce(F.col("_cov"), F.lit(0)).cast("double") / ntok,
            ).otherwise(F.lit(0.0)),
        )
        .drop("_cov")
    )
