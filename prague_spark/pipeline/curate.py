"""Config-driven corpus-curation recipe: build every frozen artifact
once, then gate each new crawl shard from the artifact directory alone.

This is the composed form of the per-operator incremental tier
(``write_content_index`` / ``exact_dedup_against``,
``write_minhash_index`` / ``minhash_candidates_against``,
``write_span_index`` / ``duplicate_spans_against``, the SemDeDup IVF
layout / ``embedding_cell_pairs_against``, quantile cutoffs, the
optional quality-filter model, and the cluster-state fold) — the shape
``tests/test_curation_e2e.py`` proves end to end, exposed as the calls
a production pipeline schedules per snapshot:

    cfg = CurationConfig(span_k=20, lang_col="lang")
    build_curation_artifacts(corpus, "/idx/v1", "doc_id", "text", cfg)
    ...
    gates = gate_shard(shard, "/idx/v1", "doc_id", "text", cfg)
    keepers = select_keepers(shard, gates, "doc_id", "text",
                             max_dup_token_frac=0.5)
    extend_curation_artifacts(keepers, "/idx/v1", "/idx/v2",
                              "doc_id", "text", cfg)

plus :func:`streaming_gate_sink`, the ``foreachBatch`` twin for
gating a live stream with rolling cluster state.

Scale contract (inherited verbatim from the per-operator tier): the
build pass is O(corpus) ONCE; every gate pass is O(shard) — one slim
equi-join per tier against a stored index, zero corpus-wide
aggregation, zero Python stages, and partition/pushed-predicate pruning
where the index layout provides it. Signature parameters travel WITH
the minhash/span indexes and are read back at gate time, so a config
drift between build and gate fails loud in the underlying operators
instead of silently flagging nothing.

Greenfield beyond the reference surface (SURVEY.md §7.9): the reference
engine has no curation layer; this module packages the pipeline a
100 TB training-data run needs.
"""

from __future__ import annotations

import contextvars
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..scope import generation, scope
from . import dedup, text

#: artifact subdirectory (inside the artifact dir) per tier
ARTIFACTS = {
    "exact": "content_index",
    "minhash": "minhash_index",
    "spans": "span_index",
    "cutoffs": "cutoffs",
    "embedding": "ivf_index",
    "quality_filter": "qfilter",
    "cluster_state": "cluster_state",
}

#: the tiers a text-only corpus gets by default
DEFAULT_TIERS = ("exact", "minhash", "spans", "cutoffs")

#: tiers build_curation_artifacts can produce — "embedding" (SemDeDup
#: cell pairs over a written IVF layout) additionally needs
#: ``config.vec_col``; "quality_filter" is gate-only (its model needs
#: LABELED data: train with quality_model.train_quality_filter and save
#: into <artifact_dir>/qfilter, and the gate picks it up)
_BUILDABLE = DEFAULT_TIERS + ("embedding",)
_GATEABLE = _BUILDABLE + ("quality_filter",)


def _default_minhash() -> dict:
    """Default MinHash/LSH banding config (32 hashes, 8x4 bands — the
    operator defaults; a fresh dict per config so callers can mutate)."""
    return dict(num_hashes=32, shingle_n=2, seed=42, bands=8,
                rows_per_band=4)


@dataclass(frozen=True)
class CurationConfig:
    """What to build / gate, and with which knobs.

    ``tiers``: which gates run — any of ``exact`` (content-hash dedup),
    ``minhash`` (near-dup candidate pairs), ``spans`` (exact-substring
    duplicate spans), ``cutoffs`` (frozen quality-quantile buckets),
    and — gate only — ``quality_filter`` (a trained model's keep
    probability). ``cluster_state`` additionally persists/folds the
    near-dup cluster assignment (requires the minhash tier).

    ``minhash``: signature/banding params for the minhash tier (None =
    operator defaults). Build writes them INTO the index; the gate
    reads them back from the index, so a stale config object cannot
    mis-gate — the params on disk win, and the underlying operator
    validates them.

    ``span_k`` / ``span_min_count``: substring-tier window and build
    threshold (keep ``min_count=1`` for a roll-forward-extendable
    index). ``quality_buckets`` / ``lang_col``: cutoff count and the
    optional grouping column for per-language quantiles.
    ``cutoffs_exact``: compute the frozen cutoffs with EXACT
    interpolated percentiles instead of the ``percentile_approx``
    sketch — the sketch is what survives a 100 TB reference corpus
    (the default); exact is for deterministic verification and
    small/medium reference corpora (``text.score_buckets``'s
    ``exact`` knob, surfaced).
    ``max_bucket``: the LSH skew cap applied at both build (one-shot
    cluster state) and gate. ``validate_state``: re-check the loaded
    cluster state's invariants at gate time (two state-sized
    aggregations — read_assignment's contract); turn off for a huge
    accumulated state whose writer is trusted (the fold still
    validates the AFFECTED clusters per batch)."""

    tiers: tuple = DEFAULT_TIERS
    minhash: dict = field(default_factory=_default_minhash)
    span_k: int = 20
    span_min_count: int = 1
    quality_buckets: int = 3
    lang_col: str | None = None
    cutoffs_exact: bool = False
    max_bucket: int | None = 5000
    cluster_state: bool = False
    vec_col: str | None = None
    embed_centroids: int = 16
    embed_threshold: float = 0.9
    validate_state: bool = True

    def _check(self, allowed, caller: str) -> None:
        bad = [t for t in self.tiers if t not in allowed]
        if bad:
            raise ValueError(
                f"{caller}: unknown or unsupported tier(s) {bad} — "
                f"allowed here: {list(allowed)}"
                + (
                    " (quality_filter is gate-only: train with "
                    "train_quality_filter and save_quality_filter into "
                    "<artifact_dir>/qfilter)"
                    if "quality_filter" in bad and allowed is _BUILDABLE
                    else ""
                )
            )
        if self.cluster_state and "minhash" not in self.tiers:
            raise ValueError(
                f"{caller}: cluster_state=True requires the minhash "
                "tier (the cluster graph is the near-dup pair graph)"
            )
        if "embedding" in self.tiers and not self.vec_col:
            raise ValueError(
                f"{caller}: the embedding tier needs config.vec_col — "
                "the array<double> column the SemDeDup pass clusters on"
            )


def _path(artifact_dir: str, tier: str) -> str:
    return os.path.join(artifact_dir, ARTIFACTS[tier])


def _overlap_tier_jobs(jobs: list) -> dict:
    """Run independent per-tier driver thunks from a small thread pool
    (the guide's §2.6 overlap: Spark schedules concurrent jobs FIFO, so
    a later tier's tasks back-fill executors idled by an earlier tier's
    straggler tail — the composed wall approaches max(tier) instead of
    sum(tiers), at identical cluster cost and identical per-tier plans).
    ``jobs`` is ``[(tier, thunk)]``; returns ``{tier: result}`` in the
    given tier order. Every thunk runs to completion; the first failure
    IN TIER ORDER is re-raised, with each later failure attached to it
    as a note (fail-loud is preserved — the only
    semantic delta vs the sequential loop is that tiers after a failing
    one may already have run, which for the extend writes means a
    partial ``out_dir``, exactly what a mid-directory sequential crash
    leaves too). 2-3 jobs in flight is enough to fill scheduling gaps;
    more would just contend. Each thunk runs in a copy of the caller's
    context, so what it pins lands in the caller's scope."""
    if len(jobs) <= 1:
        return {t: fn() for t, fn in jobs}
    with ThreadPoolExecutor(max_workers=min(len(jobs), 3)) as pool:
        futs = [(t, pool.submit(contextvars.copy_context().run, fn))
                for t, fn in jobs]
        out: dict = {}
        errs = []
        for t, fut in futs:
            try:
                out[t] = fut.result()
            except Exception as e:
                errs.append((t, e))
        if errs:
            first = errs[0][1]
            for t, e in errs[1:]:
                first.add_note(f"tier {t!r} also failed: {type(e).__name__}: {e}")
            raise first
        return out


def materialize_gates(gates: dict) -> dict:
    """Materialize a :func:`gate_shard` output — one eager ``count()``
    per tier frame, submitted CONCURRENTLY from a driver thread pool
    (guide §2.6): the per-tier gate jobs touch disjoint artifacts and
    are independent, so overlapping them makes the composed
    per-snapshot wall ≈ max(tier) instead of sum(tiers). The action per
    tier is exactly the one a sequential caller would run — per-tier
    plans, shuffle counts and results are untouched. Returns
    ``{tier: row_count}``."""
    return _overlap_tier_jobs(
        [(t, df.count) for t, df in gates.items()]
    )


def build_curation_artifacts(
    corpus: DataFrame,
    artifact_dir: str,
    id_col: str,
    text_col: str,
    config: CurationConfig = CurationConfig(),
) -> dict:
    """Build every configured tier's frozen artifact from ``corpus``
    into ``artifact_dir`` — the ONCE-per-reference-corpus pass whose
    cost amortizes over all future :func:`gate_shard` calls. Returns
    ``{tier: written_path}``.

    Per tier: ``exact`` -> :func:`~.dedup.write_content_index` (one md5
    hash-agg); ``minhash`` -> :func:`~.dedup.write_minhash_index` (one
    signature agg + bucket counts, params carried on every row);
    ``spans`` -> :func:`~.dedup.write_span_index` (one gram-hash agg);
    ``cutoffs`` -> ``text.compute_cutoffs`` over ``text.quality_score``
    (grouped by ``lang_col`` when set) written as parquet;
    ``cluster_state`` -> one-shot near-dup pairs + connected components
    + :func:`~.dedup.write_assignment`. Roll indexes forward between
    snapshots with the ``extend_*`` operators and the state with
    :func:`~.dedup.connected_components_against` +
    :func:`~.dedup.write_assignment` (the :func:`gate_shard` output
    hands you the merged labels)."""
    cfg = config
    cfg._check(_BUILDABLE, "build_curation_artifacts")
    out: dict = {}
    if "exact" in cfg.tiers:
        p = _path(artifact_dir, "exact")
        dedup.write_content_index(corpus, p, id_col, text_col)
        out["exact"] = p
    if "minhash" in cfg.tiers:
        p = _path(artifact_dir, "minhash")
        dedup.write_minhash_index(corpus, p, id_col, text_col,
                                  **cfg.minhash)
        out["minhash"] = p
    if "spans" in cfg.tiers:
        p = _path(artifact_dir, "spans")
        dedup.write_span_index(
            corpus, p, id_col, text_col,
            k=cfg.span_k, min_count=cfg.span_min_count,
        )
        out["spans"] = p
    if "cutoffs" in cfg.tiers:
        p = _path(artifact_dir, "cutoffs")
        by = [cfg.lang_col] if cfg.lang_col else None
        text.compute_cutoffs(
            text.quality_score(corpus, text_col), "q_score",
            by=by, n_buckets=cfg.quality_buckets,
            exact=cfg.cutoffs_exact,
        ).write.mode("overwrite").parquet(p)
        out["cutoffs"] = p
    if "embedding" in cfg.tiers:
        from . import similarity

        p = _path(artifact_dir, "embedding")
        C = similarity.train_ivf_centroids(
            corpus, cfg.vec_col, n_centroids=cfg.embed_centroids
        )
        # (id, vec) only: the gate joins vectors back by cell; the
        # centroids ride the model sidecar so the gate's assignment can
        # never drift from the build's
        similarity.write_ivf_index(
            corpus.select(id_col, cfg.vec_col), cfg.vec_col, C, p
        )
        out["embedding"] = p
    if cfg.cluster_state:
        p = _path(artifact_dir, "cluster_state")
        mh = cfg.minhash
        sig = dedup.minhash_signatures(
            corpus, id_col, text_col,
            num_hashes=mh["num_hashes"], shingle_n=mh["shingle_n"],
            seed=mh["seed"],
        )
        # the only tier that pins or checkpoints: free it all after the
        # write, its one consumer
        with scope():
            pairs = dedup.minhash_lsh_candidates(
                sig, id_col, bands=mh["bands"],
                rows_per_band=mh["rows_per_band"], max_bucket=cfg.max_bucket,
            )
            dedup.write_assignment(dedup.connected_components(pairs), p)
        out["cluster_state"] = p
    return out


def select_keepers(
    shard: DataFrame,
    gates: dict,
    id_col: str,
    text_col: str,
    *,
    max_dup_token_frac: float | None = None,
    min_quality_prob: float | None = None,
    keep_buckets=None,
) -> DataFrame:
    """Apply the standard keep policy to a :func:`gate_shard` output
    and return the SURVIVING shard rows (original columns intact):

    - exact tier (always, when present): keep only content keepers
      (``dup_of`` NULL — the canonical of genuinely new content);
    - spans tier + ``max_dup_token_frac``: drop documents whose
      duplicated-token fraction (``dedup.span_dup_stats`` over the
      gate's spans) exceeds the budget;
    - quality_filter tier + ``min_quality_prob``: drop documents the
      trained gate scores below the threshold;
    - cutoffs tier + ``keep_buckets``: keep only the listed frozen
      quality buckets (e.g. ``(2, 3)`` for the top two terciles).

    Near-dup pairs are deliberately NOT auto-applied: keeping one
    member per cluster is a POLICY over cluster labels and a score
    (``connected_components[_against]`` + ``canonical_by_score``), not
    a per-document predicate — compose it explicitly.

    Plan shape: one semi/anti join per active criterion, each against a
    shard-sized id frame — O(shard), no corpus work, no Python stages
    beyond what the gates themselves carry. Thresholds for tiers absent
    from ``gates`` fail loud (a silently-skipped gate would inflate the
    corpus)."""
    out = shard
    if "exact" in gates:
        out = out.join(
            gates["exact"].filter(F.col("dup_of").isNull())
            .select(id_col),
            id_col, "semi",
        )
    for knob, tier in ((max_dup_token_frac, "spans"),
                       (min_quality_prob, "quality_filter"),
                       (keep_buckets, "cutoffs")):
        if knob is not None and tier not in gates:
            raise ValueError(
                f"select_keepers: a threshold for the {tier!r} tier was "
                "given but gates has no such output — gate the shard "
                "with that tier enabled first"
            )
    if max_dup_token_frac is not None:
        frac = dedup.span_dup_stats(
            shard.select(id_col, text_col), gates["spans"], id_col,
            text_col,
        )
        out = out.join(
            frac.filter(F.col("dup_token_frac") <= max_dup_token_frac)
            .select(id_col),
            id_col, "semi",
        )
    if min_quality_prob is not None:
        out = out.join(
            gates["quality_filter"]
            .filter(F.col("q_prob") >= min_quality_prob).select(id_col),
            id_col, "semi",
        )
    if keep_buckets is not None:
        out = out.join(
            gates["cutoffs"]
            .filter(F.col("q_bucket").isin(list(keep_buckets)))
            .select(id_col),
            id_col, "semi",
        )
    return out


def streaming_gate_sink(
    artifact_dir: str,
    id_col: str,
    text_col: str,
    on_batch,
    config: CurationConfig = CurationConfig(),
):
    """The composed gate's STREAMING twin: build a ``foreachBatch``
    function that treats every micro-batch as one shard, gates it with
    :func:`gate_shard` against the frozen artifacts, and hands the
    per-tier outputs to ``on_batch(gates, batch_df, epoch_id)`` —

        fn = streaming_gate_sink("idx/v1", "doc_id", "text", my_sink,
                                 cfg)
        q = stream.writeStream.foreachBatch(fn) \\
                  .trigger(availableNow=True).start()

    With ``config.cluster_state`` the assignment folds FORWARD ACROSS
    BATCHES: the prior state loads once from the artifact directory
    (or starts empty when the artifact is absent), each batch's
    near-dup pairs merge in via ``connected_components_against``, the
    merged labels ride to ``on_batch`` under ``"cluster_state"``, and
    the latest labels stay on ``fn.state["assign"]`` — write them
    forward with ``dedup.write_assignment`` when the stream drains.
    Batch-boundary independence of the final labels is the fold
    operator's pinned property (streaming tests). Each batch runs in
    its own :func:`~prague_spark.scope.scope`, closed after
    ``on_batch``. The folded state is eagerly ``localCheckpoint``-ed
    once per batch into ``fn.scope`` (close it once the final state is
    written), which frees the superseded state: executor storage holds
    ONE state generation, and batch N's fold does not re-walk N nested
    join layers (O(N^2) total).

    Semantics inherited from the per-operator foreachBatch twins:
    within-shard duplicate detection is micro-batch-local (a duplicate
    SPLIT across batches is only caught once its first copy has been
    rolled into the indexes between snapshots), and the per-batch work
    is O(batch) against the stored indexes."""
    cfg = config
    cfg._check(_GATEABLE, "streaming_gate_sink")
    # fold the state here, across batches — not per-call inside
    # gate_shard, which would re-load the PRIOR artifact every batch
    # and lose earlier batches' merges
    from dataclasses import replace as _replace

    batch_cfg = (
        _replace(cfg, cluster_state=False) if cfg.cluster_state else cfg
    )
    state: dict = {"assign": None}
    state_scope = scope()

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        with scope():
            gates = gate_shard(batch_df, artifact_dir, id_col, text_col,
                               batch_cfg)
            if cfg.cluster_state:
                spark = batch_df.sparkSession
                prior = state["assign"]
                p = _path(artifact_dir, "cluster_state")
                if prior is None and _artifact_exists(spark, p):
                    prior = dedup.read_assignment(
                        spark, p, validate=cfg.validate_state
                    )
                folded = (
                    dedup.connected_components(gates["minhash"])
                    if prior is None
                    else dedup.connected_components_against(
                        prior, gates["minhash"])
                )
                # the fold's internal generations are the batch scope's;
                # the previous batch's state is superseded once this
                # one (which reads it) is materialized
                new_state = state_scope.checkpoint(folded)
                if state["assign"] is not None:
                    state_scope.release(state["assign"])
                state["assign"] = gates["cluster_state"] = new_state
            on_batch(gates, batch_df, epoch_id)

    fn.state = state
    fn.scope = state_scope
    return fn


def extend_curation_artifacts(
    keepers: DataFrame,
    in_dir: str,
    out_dir: str,
    id_col: str,
    text_col: str,
    config: CurationConfig = CurationConfig(),
    cluster_assignment: DataFrame | None = None,
) -> dict:
    """Roll a WHOLE artifact directory forward one snapshot: merge the
    snapshot's ``keepers`` (the :func:`gate_shard` survivors — docs the
    indexes have never seen; the per-tier guards fail loud otherwise)
    into every extendable index and write a SELF-CONTAINED successor
    directory — ``gate_shard(out_dir)`` serves the next snapshot with
    no reference to ``in_dir``. Returns ``{tier: written_path}``.

    Per tier: ``exact``/``minhash``/``spans`` roll forward with their
    ``extend_*`` operators — O(index rows + keepers), the corpus text
    is never re-read, each pinned bit-equal to a one-shot rebuild on
    the union. ``cutoffs`` (and a ``qfilter`` model artifact, if one
    exists in ``in_dir``) PASS THROUGH unchanged — quantile cutoffs and
    trained filters are reference-corpus artifacts by design (the CCNet
    discipline: frozen thresholds, not drifting ones); rebuild them
    deliberately with :func:`build_curation_artifacts` when the
    reference corpus itself is re-chosen. ``cluster_state`` writes the
    caller-supplied merged assignment (:func:`gate_shard`'s
    ``cluster_state`` output — the fold already happened during the
    gate; re-deriving it here would re-run the pair generator).

    ``out_dir`` must be a sibling, not ``in_dir`` or nested within it —
    swap directories after the write (the ``extend_*`` convention,
    enforced for the whole directory up front)."""
    cfg = config
    cfg._check(_BUILDABLE, "extend_curation_artifacts")
    dedup._require_distinct_out("extend_curation_artifacts", in_dir, out_dir)
    spark = keepers.sparkSession
    if cfg.cluster_state and cluster_assignment is None:
        raise ValueError(
            "extend_curation_artifacts: cluster_state=True needs the "
            "merged assignment (gate_shard's 'cluster_state' output) — "
            "the fold happens at gate time; pass it via "
            "cluster_assignment"
        )
    # every input artifact is checked BEFORE any tier writes (a missing
    # artifact now fails with a pristine out_dir instead of after some
    # tiers have already been written); the per-tier roll-forwards are
    # then independent jobs over disjoint paths, submitted from a small
    # thread pool so the composed snapshot write costs ≈ max(tier)
    # instead of sum(tiers) (guide §2.6 — see _overlap_tier_jobs).
    p_ins = {
        t: _require_artifact(spark, in_dir, t, "extend_curation_artifacts")
        for t in ("exact", "minhash", "spans", "embedding", "cutoffs")
        if t in cfg.tiers
    }

    def _do_exact() -> str:
        p_out = _path(out_dir, "exact")
        dedup.extend_content_index(
            keepers, p_ins["exact"], p_out, id_col, text_col
        )
        return p_out

    def _do_minhash() -> str:
        p_out = _path(out_dir, "minhash")
        dedup.extend_minhash_index(
            keepers, p_ins["minhash"], p_out, id_col, text_col,
            **_carried_params(spark.read.parquet(p_ins["minhash"]),
                              dedup._MINHASH_INDEX_PARAMS, cfg.minhash),
        )
        return p_out

    def _do_spans() -> str:
        p_out = _path(out_dir, "spans")
        dedup.extend_span_index(
            keepers, p_ins["spans"], p_out, id_col, text_col,
            **_carried_params(spark.read.parquet(p_ins["spans"]), ("k",),
                              {"k": cfg.span_k}),
        )
        return p_out

    def _do_embedding() -> str:
        from . import similarity

        p_in = p_ins["embedding"]
        p_out = _path(out_dir, "embedding")
        C, _books = similarity.load_ivfpq_model(
            spark, os.path.join(p_in, "_ivfpq_model")
        )
        old_idx = spark.read.parquet(p_in)
        # the exact/minhash/span tiers' overlap discipline: re-extending
        # an id already in the layout would silently duplicate its
        # index row (and double every pair the gate emits for it) —
        # one column-pruned semi-join count, within the rewrite budget
        n_overlap = (
            keepers.select(id_col).distinct()
            .join(old_idx.select(id_col), id_col, "left_semi")
            .count()
        )
        if n_overlap:
            raise ValueError(
                f"extend_curation_artifacts: {n_overlap} keeper id(s) "
                "are already in the embedding index — re-extending "
                "duplicates their rows; extend with NEW docs only"
            )
        # frozen-centroid union rewrite (the successor-directory form
        # of similarity.append_ivf_index, which grows IN PLACE): the
        # old rows keep their assigned cells, only the keepers pay the
        # assignment — bit-equal to a same-centroid rebuild on the
        # union, O(index rows + keepers) like the other extends
        add = similarity.assign_ivf_cells(
            keepers.select(id_col, cfg.vec_col), cfg.vec_col, C,
            out="cell",
        )
        (
            old_idx.select(id_col, cfg.vec_col, "cell")
            .unionByName(add.select(id_col, cfg.vec_col, "cell"))
            .write.mode("overwrite").partitionBy("cell").parquet(p_out)
        )
        similarity.save_ivfpq_model(
            spark, os.path.join(p_out, "_ivfpq_model"), C, None
        )
        return p_out

    def _do_cutoffs() -> str:
        p_out = _path(out_dir, "cutoffs")
        # frozen passthrough via the Spark IO path (works wherever the
        # artifacts live; doubles round-trip parquet exactly)
        spark.read.parquet(p_ins["cutoffs"]).write.mode(
            "overwrite"
        ).parquet(p_out)
        return p_out

    def _do_quality_filter() -> str:
        from .quality_model import load_quality_filter, save_quality_filter

        save_quality_filter(
            spark, load_quality_filter(spark, _path(in_dir, "quality_filter")),
            _path(out_dir, "quality_filter"),
        )
        return _path(out_dir, "quality_filter")

    def _do_cluster_state() -> str:
        p_out = _path(out_dir, "cluster_state")
        dedup.write_assignment(cluster_assignment, p_out)
        return p_out

    jobs = []
    for tier, fn in (
        ("exact", _do_exact), ("minhash", _do_minhash),
        ("spans", _do_spans), ("embedding", _do_embedding),
        ("cutoffs", _do_cutoffs),
    ):
        if tier in cfg.tiers:
            jobs.append((tier, fn))
    if _artifact_exists(spark, _path(in_dir, "quality_filter")):
        jobs.append(("quality_filter", _do_quality_filter))
    if cfg.cluster_state:
        jobs.append(("cluster_state", _do_cluster_state))
    return _overlap_tier_jobs(jobs)


def _carried_params(idx: DataFrame, names, fallback: dict) -> dict:
    """Read the parameters an index carries on every row — the
    AUTHORITATIVE values (the build wrote them), so a drifted config
    object cannot mis-key a probe; the underlying operators still
    distinct-validate. A legitimately EMPTY index (an empty reference
    corpus; a span build whose threshold left no recurring grams) has
    no row to read — fall back to the config's values, under which an
    empty index gates correctly (no cross hits; shard-internal
    detection unaffected) instead of surfacing an opaque NoneType
    error."""
    row = idx.select(*names).first()
    if row is None:
        return dict(fallback)
    return {p: int(row[p]) for p in names}


def _artifact_exists(spark, p: str) -> bool:
    """Existence check through the Hadoop FileSystem API, not
    driver-local ``os.path`` — the artifacts live wherever Spark can
    read them (HDFS, S3A, ...), and an ``os.path.isdir`` probe is
    always False for a remote URI, which would silently skip a prior
    cluster state or falsely report artifacts missing."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(p)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _require_artifact(
    spark, artifact_dir: str, tier: str, caller: str = "gate_shard"
) -> str:
    p = _path(artifact_dir, tier)
    if not _artifact_exists(spark, p):
        raise ValueError(
            f"{caller}: tier {tier!r} requested but its artifact "
            f"{p!r} does not exist — build it first "
            "(build_curation_artifacts"
            + (", or save_quality_filter for the qfilter tier)"
               if tier == "quality_filter" else ")")
        )
    return p


def _read_artifact(
    spark, artifact_dir: str, tier: str, caller: str = "gate_shard"
) -> DataFrame:
    """Read a tier's index parquet, converting the one known-opaque
    failure into guidance: a PARTITIONED index written from an empty
    corpus holds no data files at all (partitionBy writes nothing, not
    even schema), so the read dies with UNABLE_TO_INFER_SCHEMA —
    translate that to 'bootstrap by building after the first
    snapshot'."""
    p = _require_artifact(spark, artifact_dir, tier, caller)
    try:
        return spark.read.parquet(p)
    except Exception as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        raise ValueError(
            f"{caller}: the {tier!r} artifact at {p!r} holds no "
            "readable data files — it was built from an EMPTY corpus "
            "(a partitioned index writes nothing at all then); "
            "bootstrap a new pipeline by building the artifacts AFTER "
            "the first snapshot, then gate from the second onward"
        ) from e


@generation
def gate_shard(
    shard: DataFrame,
    artifact_dir: str,
    id_col: str,
    text_col: str,
    config: CurationConfig = CurationConfig(),
) -> dict:
    """Gate a NEW shard against the frozen artifacts only — the
    per-crawl-snapshot pass. Returns ``{tier: DataFrame}``:

    - ``exact``: one row per shard doc — ``(id, content_md5, dup_of)``,
      ``dup_of`` NULL for keepers (the index's canonical wins over the
      shard's min id). The module's own indexes are one-row-per-hash by
      construction, so the gate runs the leaner ``unique_index`` form.
    - ``minhash``: candidate near-dup pairs ``(id_a, id_b)`` touching
      the shard (signature params read from the index itself — a
      mismatched rebuild fails loud in the operator).
    - ``spans``: ``(id, span_start, span_end, n_dup_grams)`` maximal
      recurring-substring spans (window ``k`` read from the index).
    - ``cutoffs``: the shard with ``q_score`` and ``q_bucket`` columns
      (frozen quantiles applied — a zero-shuffle broadcast projection;
      the artifact's OWN grouping columns are authoritative, so a
      ``lang_col`` drift between build and gate cannot silently bucket
      against the wrong group's thresholds).
    - ``quality_filter``: ``(id, q_prob)`` from the saved model.
    - ``cluster_state``: the PRIOR assignment with the shard's pairs
      folded in (write it forward with ``dedup.write_assignment`` to
      complete the snapshot) — requires ``cluster_state=True``.

    Every tier's plan touches the shard plus its own artifact and
    nothing else (pinned plan-level in the e2e test: zero corpus
    FileScans, zero Python stages). The per-tier frames are lazy
    except ``cluster_state``, whose fold (and, with
    ``config.validate_state``, the loaded state's invariant re-check —
    two state-sized aggregations, off-switchable for huge trusted
    states) runs eagerly at call time."""
    cfg = config
    cfg._check(_GATEABLE, "gate_shard")
    spark = shard.sparkSession
    out: dict = {}
    if "exact" in cfg.tiers:
        idx = _read_artifact(spark, artifact_dir, "exact")
        out["exact"] = dedup.exact_dedup_against(
            shard, idx, id_col, text_col, unique_index=True,
        )
    if "minhash" in cfg.tiers:
        idx = _read_artifact(spark, artifact_dir, "minhash")
        out["minhash"] = dedup.minhash_candidates_against(
            shard, idx, id_col, text_col,
            max_bucket=cfg.max_bucket,
            **_carried_params(idx, dedup._MINHASH_INDEX_PARAMS,
                              cfg.minhash),
        )
    if "spans" in cfg.tiers:
        idx = _read_artifact(spark, artifact_dir, "spans")
        out["spans"] = dedup.duplicate_spans_against(
            shard, idx, id_col, text_col,
            **_carried_params(idx, ("k",), {"k": cfg.span_k}),
        )
    if "cutoffs" in cfg.tiers:
        cuts = _read_artifact(spark, artifact_dir, "cutoffs")
        # the artifact's grouping columns are AUTHORITATIVE (everything
        # but the cutoffs column IS the build's `by` — compute_cutoffs'
        # schema contract), the same discipline as the carried minhash
        # params: a config whose lang_col drifted from the build would
        # otherwise silently bucket every doc against one arbitrary
        # group's thresholds (global path) or die unresolved
        by = [c for c in cuts.columns if c != "cutoffs"] or None
        missing = [c for c in (by or []) if c not in shard.columns]
        if missing:
            raise ValueError(
                f"gate_shard: the cutoffs artifact is grouped by "
                f"{by} but the shard lacks column(s) {missing} — the "
                "artifact was built with a different lang_col than "
                "this shard carries"
            )
        out["cutoffs"] = text.apply_cutoffs(
            text.quality_score(shard, text_col), "q_score", cuts,
            by=by, out="q_bucket",
        )
    if "embedding" in cfg.tiers:
        from . import similarity

        p = _require_artifact(spark, artifact_dir, "embedding")
        idx = _read_artifact(spark, artifact_dir, "embedding")
        C, _books = similarity.load_ivfpq_model(
            spark, os.path.join(p, "_ivfpq_model")
        )
        out["embedding"] = dedup.embedding_cell_pairs_against(
            shard, idx, C, id_col, cfg.vec_col,
            threshold=cfg.embed_threshold,
        )
    if "quality_filter" in cfg.tiers:
        from .quality_model import load_quality_filter, score_quality

        qf = load_quality_filter(
            spark, _require_artifact(spark, artifact_dir, "quality_filter")
        )
        out["quality_filter"] = score_quality(shard, qf, id_col, text_col)
    if cfg.cluster_state:
        prior = dedup.read_assignment(
            spark,
            _require_artifact(spark, artifact_dir, "cluster_state"),
            validate=cfg.validate_state,
        )
        out["cluster_state"] = dedup.connected_components_against(
            prior, out["minhash"]
        )
    return out
