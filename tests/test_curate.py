"""The composed config-driven curation recipe (pipeline.curate): tier
subsets build/gate independently, gate outputs are EXACTLY the wrapped
per-operator calls' outputs, and every misconfiguration fails loud —
the frozen-artifact e2e (test_curation_e2e) pins the full composition;
these pin the API contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prague_spark.pipeline import dedup, text
from prague_spark.pipeline.curate import (
    ARTIFACTS, CurationConfig, build_curation_artifacts, gate_shard,
)

_MH = dict(num_hashes=8, shingle_n=1, seed=42, bands=2, rows_per_band=2)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_build_and_gate_match_direct_operators(docs, spark, tmp_path):
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    art = str(tmp_path / "art")
    cfg = CurationConfig(
        minhash=_MH, span_k=5, span_min_count=1,
        quality_buckets=3, lang_col="lang", cluster_state=True,
    )
    paths = build_curation_artifacts(corpus, art, "doc_id", "text", cfg)
    assert set(paths) == {"exact", "minhash", "spans", "cutoffs",
                          "cluster_state"}
    for tier, p in paths.items():
        assert p.endswith(ARTIFACTS[tier])

    gates = gate_shard(shard, art, "doc_id", "text", cfg)
    assert set(gates) == set(paths)

    # exact tier == the direct gate against the same artifact
    got = {(r["doc_id"], r["dup_of"]) for r in gates["exact"].collect()}
    want = {
        (r["doc_id"], r["dup_of"])
        for r in dedup.exact_dedup_against(
            shard, spark.read.parquet(paths["exact"]), "doc_id", "text",
            unique_index=True,
        ).collect()
    }
    assert got == want and got

    # minhash tier == the direct gate (params read back from the index)
    got = {(r["id_a"], r["id_b"]) for r in gates["minhash"].collect()}
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidates_against(
            shard, spark.read.parquet(paths["minhash"]), "doc_id",
            "text", **_MH,
        ).collect()
    }
    assert got == want

    # spans tier == the direct gate at the index's carried k
    got = {tuple(r) for r in gates["spans"].collect()}
    want = {
        tuple(r)
        for r in dedup.duplicate_spans_against(
            shard, spark.read.parquet(paths["spans"]), "doc_id", "text",
            k=5,
        ).collect()
    }
    assert got == want

    # cutoffs tier: every shard doc bucketed against the FROZEN corpus
    # quantiles, identical to the direct apply_cutoffs call
    got = {r["doc_id"]: r["q_bucket"] for r in gates["cutoffs"].collect()}
    want = {
        r["doc_id"]: r["q_bucket"]
        for r in text.apply_cutoffs(
            text.quality_score(shard, "text"), "q_score",
            spark.read.parquet(paths["cutoffs"]), by=["lang"],
            out="q_bucket",
        ).collect()
    }
    assert got == want and set(got.values()) <= {1, 2, 3}

    # cluster state: the fold of the gate's own pairs into the stored
    # prior — identical to the direct read_assignment + fold
    got = {(r["node"], r["cluster_id"])
           for r in gates["cluster_state"].collect()}
    want = {
        (r["node"], r["cluster_id"])
        for r in dedup.connected_components_against(
            dedup.read_assignment(spark, paths["cluster_state"]),
            dedup.minhash_candidates_against(
                shard, spark.read.parquet(paths["minhash"]), "doc_id",
                "text", **_MH,
            ),
        ).collect()
    }
    assert got == want


def test_extend_curation_artifacts_snapshot_closure(docs, spark, tmp_path):
    """The composed roll-forward: one call merges a snapshot's keepers
    into every extendable index, passes the frozen artifacts through,
    and writes the merged cluster state — the successor directory is
    SELF-CONTAINED (gates the next shard with no reference to v1) and
    its extendable tiers are bit-equal to a fresh build on the union."""
    from prague_spark.pipeline.curate import extend_curation_artifacts

    corpus = docs.filter(F.col("doc_id") % 5 == 1)
    shard = docs.filter(F.col("doc_id") % 5 == 2)
    shard2 = docs.filter(F.col("doc_id") % 5 == 3)
    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    cfg = CurationConfig(
        minhash=_MH, span_k=5, span_min_count=1,
        quality_buckets=3, lang_col="lang", cluster_state=True,
    )
    build_curation_artifacts(corpus, v1, "doc_id", "text", cfg)
    # a trained model artifact rides along (frozen passthrough)
    from prague_spark.pipeline.quality_model import (
        load_quality_filter, save_quality_filter, score_quality,
        train_quality_filter,
    )

    labeled = corpus.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 2 == 0, "good").otherwise("bad").alias("ql"),
    )
    qf = train_quality_filter(
        labeled, "doc_id", "text", "ql",
        n_features=2**10, n_sigma=3, lambda_min_ratio=0.3,
    )
    save_quality_filter(spark, qf, v1 + "/qfilter")

    gates = gate_shard(shard, v1, "doc_id", "text", cfg)
    keepers = shard.join(
        gates["exact"].filter(F.col("dup_of").isNull()).select("doc_id"),
        "doc_id", "semi",
    )
    paths = extend_curation_artifacts(
        keepers, v1, v2, "doc_id", "text", cfg,
        cluster_assignment=gates["cluster_state"],
    )
    assert set(paths) == {"exact", "minhash", "spans", "cutoffs",
                          "quality_filter", "cluster_state"}

    # extendable tiers == a fresh one-shot build on (corpus ∪ keepers)
    ref = str(tmp_path / "ref")
    build_curation_artifacts(
        corpus.select("doc_id", "text", "lang").unionByName(
            keepers.select("doc_id", "text", "lang")
        ),
        ref, "doc_id", "text", cfg,
    )
    for tier in ("exact", "minhash", "spans"):
        got = {tuple(r) for r in spark.read.parquet(paths[tier]).collect()}
        want = {
            tuple(r)
            for r in spark.read.parquet(ref + "/" + ARTIFACTS[tier]).collect()
        }
        assert got == want and got, tier

    # frozen tiers pass through content-identical (the cutoffs frame
    # carries an array column — freeze it for set comparison)
    def _key(r):
        return tuple(tuple(v) if isinstance(v, list) else v for v in r)

    got = {_key(r) for r in spark.read.parquet(paths["cutoffs"]).collect()}
    want = {_key(r) for r in spark.read.parquet(v1 + "/cutoffs").collect()}
    assert got == want
    probe = shard2.limit(20)
    qa = {r["doc_id"]: r["q_prob"] for r in score_quality(
        probe, load_quality_filter(spark, v1 + "/qfilter"),
        "doc_id", "text").collect()}
    qb = {r["doc_id"]: r["q_prob"] for r in score_quality(
        probe, load_quality_filter(spark, paths["quality_filter"]),
        "doc_id", "text").collect()}
    assert qa == qb

    # cluster state written == the gate's merged labels, and v2 is
    # self-contained: the NEXT shard gates against it alone
    got = {tuple(r) for r in
           dedup.read_assignment(spark, paths["cluster_state"]).collect()}
    want = {tuple(r) for r in gates["cluster_state"]
            .select("node", "cluster_id").collect()}
    assert got == want
    g2 = gate_shard(
        shard2, v2, "doc_id", "text",
        CurationConfig(
            tiers=cfg.tiers + ("quality_filter",), minhash=_MH,
            span_k=5, quality_buckets=3, lang_col="lang",
            cluster_state=True,
        ),
    )
    assert g2["exact"].count() == shard2.count()
    assert g2["cluster_state"].count() > 0

    # guards: in-place roll, missing merged assignment
    with pytest.raises(ValueError, match="nest|must differ"):
        extend_curation_artifacts(keepers, v1, v1, "doc_id", "text", cfg)
    with pytest.raises(ValueError, match="cluster_assignment"):
        extend_curation_artifacts(
            keepers, v1, str(tmp_path / "v3"), "doc_id", "text", cfg
        )


def test_select_keepers_policy(docs, spark, tmp_path):
    """select_keepers composes the per-tier keep predicates exactly as
    the manual semi-joins would — and refuses a threshold for a tier
    the gates dict doesn't carry (a silently-skipped gate would inflate
    the corpus)."""
    from prague_spark.pipeline.curate import select_keepers
    from prague_spark.pipeline.quality_model import (
        save_quality_filter, train_quality_filter,
    )

    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    art = str(tmp_path / "art")
    cfg = CurationConfig(
        minhash=_MH, span_k=5, span_min_count=1,
        quality_buckets=3, lang_col="lang",
    )
    build_curation_artifacts(corpus, art, "doc_id", "text", cfg)
    labeled = corpus.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 2 == 0, "good").otherwise("bad").alias("ql"),
    )
    qf = train_quality_filter(
        labeled, "doc_id", "text", "ql",
        n_features=2**10, n_sigma=3, lambda_min_ratio=0.3,
    )
    save_quality_filter(spark, qf, art + "/qfilter")
    gcfg = CurationConfig(
        tiers=cfg.tiers + ("quality_filter",), minhash=_MH, span_k=5,
        quality_buckets=3, lang_col="lang",
    )
    gates = gate_shard(shard, art, "doc_id", "text", gcfg)

    kept = select_keepers(
        shard, gates, "doc_id", "text",
        max_dup_token_frac=0.5, min_quality_prob=0.3,
        keep_buckets=(2, 3),
    )
    got = {r["doc_id"] for r in kept.collect()}

    exact_ok = {r["doc_id"] for r in gates["exact"]
                .filter(F.col("dup_of").isNull()).collect()}
    frac = dedup.span_dup_stats(
        shard.select("doc_id", "text"), gates["spans"], "doc_id", "text"
    )
    span_ok = {r["doc_id"] for r in frac
               .filter(F.col("dup_token_frac") <= 0.5).collect()}
    q_ok = {r["doc_id"] for r in gates["quality_filter"]
            .filter(F.col("q_prob") >= 0.3).collect()}
    b_ok = {r["doc_id"] for r in gates["cutoffs"]
            .filter(F.col("q_bucket").isin(2, 3)).collect()}
    assert got == exact_ok & span_ok & q_ok & b_ok
    # kept rows keep the shard's original columns
    assert set(kept.columns) == set(shard.columns)

    # thresholds only: no knob -> exact tier alone
    assert {r["doc_id"] for r in select_keepers(
        shard, gates, "doc_id", "text").collect()} == exact_ok
    # a knob for a tier the gates don't carry fails loud
    slim = {k: v for k, v in gates.items() if k != "quality_filter"}
    with pytest.raises(ValueError, match="quality_filter"):
        select_keepers(shard, slim, "doc_id", "text",
                       min_quality_prob=0.3)


def test_tier_subsets_and_guards(docs, tmp_path):
    corpus = docs.filter(F.col("doc_id") % 5 != 0).limit(100)
    shard = docs.filter(F.col("doc_id") % 5 == 0).limit(50)
    art = str(tmp_path / "art")

    # a subset config builds and gates only what it names
    cfg = CurationConfig(tiers=("exact",), minhash=_MH)
    paths = build_curation_artifacts(corpus, art, "doc_id", "text", cfg)
    assert set(paths) == {"exact"}
    gates = gate_shard(shard, art, "doc_id", "text", cfg)
    assert set(gates) == {"exact"}
    assert gates["exact"].count() == 50

    # gating a tier whose artifact was never built fails loud
    with pytest.raises(ValueError, match="does not exist"):
        gate_shard(shard, art, "doc_id", "text",
                   CurationConfig(tiers=("spans",)))
    with pytest.raises(ValueError, match="save_quality_filter"):
        gate_shard(shard, art, "doc_id", "text",
                   CurationConfig(tiers=("exact", "quality_filter")))

    # unknown tiers and build-side quality_filter fail loud
    with pytest.raises(ValueError, match="unknown or unsupported"):
        build_curation_artifacts(corpus, art, "doc_id", "text",
                                 CurationConfig(tiers=("exact", "bogus")))
    with pytest.raises(ValueError, match="gate-only"):
        build_curation_artifacts(
            corpus, art, "doc_id", "text",
            CurationConfig(tiers=("exact", "quality_filter")),
        )
    with pytest.raises(ValueError, match="unknown or unsupported"):
        gate_shard(shard, art, "doc_id", "text",
                   CurationConfig(tiers=("exact", "bogus")))

    # cluster_state needs the near-dup graph
    with pytest.raises(ValueError, match="requires the minhash"):
        build_curation_artifacts(
            corpus, art, "doc_id", "text",
            CurationConfig(tiers=("exact",), cluster_state=True),
        )


def test_gate_against_empty_indexes(docs, tmp_path):
    """Empty-corpus builds at the two degenerate edges: a ROW-empty but
    readable index (exact/span tiers keep their schema) gates with the
    config-param fallback — no cross hits, shard-internal detection
    intact — while the PARTITIONED minhash index writes no files at all
    when empty and the gate translates the opaque schema-inference
    failure into bootstrap guidance."""
    empty = docs.filter(F.lit(False))
    shard = docs.filter(F.col("doc_id") % 5 == 0).limit(40)
    art = str(tmp_path / "art")
    cfg = CurationConfig(
        tiers=("exact", "minhash", "spans"), minhash=_MH,
        span_k=5, span_min_count=1,
    )
    build_curation_artifacts(empty, art, "doc_id", "text", cfg)
    gates = gate_shard(
        shard, art, "doc_id", "text",
        CurationConfig(tiers=("exact", "spans"), minhash=_MH, span_k=5),
    )
    ex = gates["exact"].collect()
    shard_ids = {r["doc_id"] for r in shard.select("doc_id").collect()}
    assert len(ex) == 40
    # nothing can be a dup of the (empty) index — only of the shard
    assert all(
        r["dup_of"] is None or r["dup_of"] in shard_ids for r in ex
    )
    assert gates["spans"].count() == 0
    # the empty partitioned minhash index cannot even be read — loud,
    # with the bootstrap recipe in the message
    with pytest.raises(ValueError, match="EMPTY corpus"):
        gate_shard(shard, art, "doc_id", "text",
                   CurationConfig(tiers=("minhash",), minhash=_MH))


def test_embedding_tier_build_gate_extend(spark, sf_dir, tmp_path):
    """The SemDeDup embedding tier through the composed recipe: build
    writes the cell-partitioned IVF layout + centroid sidecar; the gate
    flags shard-vs-corpus semantic near-dups with the SIDECAR's
    centroids (exact parity with the direct operator); the roll-forward
    re-assigns only the keepers under the frozen centroids and lands
    bit-equal to a same-centroid rebuild on the union."""
    from prague_spark.pipeline import similarity
    from prague_spark.pipeline.curate import extend_curation_artifacts

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("vec", F.transform("embedding", lambda x: x.cast("double")))
        .select("vec_id", "vec")
    )
    corpus = emb.filter(F.col("vec_id") % 3 == 0)
    base_shard = emb.filter(F.col("vec_id") % 3 == 1)
    max_id = int(emb.agg(F.max("vec_id")).first()[0])
    # plant exact vector copies (cosine 1.0 — deterministic pairs in
    # the copied vectors' own cells, whatever the trained centroids)
    plants = corpus.orderBy("vec_id").limit(2).select(
        (F.col("vec_id") + max_id + 1).alias("vec_id"), "vec"
    )
    shard = base_shard.unionByName(plants)

    v1 = str(tmp_path / "v1")
    cfg = CurationConfig(
        tiers=("embedding",), vec_col="vec",
        embed_centroids=8, embed_threshold=0.95,
    )
    paths = build_curation_artifacts(corpus, v1, "vec_id", "vec", cfg)
    assert set(paths) == {"embedding"}

    gates = gate_shard(shard, v1, "vec_id", "vec", cfg)
    pairs = {(r["id_a"], r["id_b"]) for r in gates["embedding"].collect()}
    for r in corpus.orderBy("vec_id").limit(2).collect():
        assert (r["vec_id"], r["vec_id"] + max_id + 1) in pairs
    # parity with the direct operator under the sidecar's constants
    import os

    C, _ = similarity.load_ivfpq_model(
        spark, os.path.join(paths["embedding"], "_ivfpq_model")
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cell_pairs_against(
            shard, spark.read.parquet(paths["embedding"]), C,
            "vec_id", "vec", threshold=0.95,
        ).collect()
    }
    assert pairs == want

    # roll forward with the un-planted keepers; the successor layout is
    # bit-equal to a same-centroid rebuild on the union
    v2 = str(tmp_path / "v2")
    p2 = extend_curation_artifacts(
        base_shard, v1, v2, "vec_id", "vec", cfg
    )
    ref = str(tmp_path / "ref_ivf")
    similarity.write_ivf_index(
        corpus.unionByName(base_shard), "vec", C, ref
    )
    got = {
        (r["vec_id"], r["cell"], tuple(r["vec"]))
        for r in spark.read.parquet(p2["embedding"]).collect()
    }
    want = {
        (r["vec_id"], r["cell"], tuple(r["vec"]))
        for r in spark.read.parquet(ref).collect()
    }
    assert got == want and got
    # ... and v2 gates the next shard by itself
    nxt = emb.filter(F.col("vec_id") % 3 == 2)
    assert gate_shard(nxt, v2, "vec_id", "vec", cfg)["embedding"] is not None

    # config guard: the tier without a vec_col fails loud
    with pytest.raises(ValueError, match="vec_col"):
        build_curation_artifacts(
            corpus, v1, "vec_id", "vec",
            CurationConfig(tiers=("embedding",)),
        )


def test_cutoffs_grouping_is_artifact_authoritative(docs, spark, tmp_path):
    """The cutoffs artifact's own grouping columns drive the gate (the
    carried-minhash-params discipline): a config whose lang_col drifted
    to None still buckets per-language correctly, and a shard missing
    the artifact's grouping column fails loud instead of dying with an
    unresolved-column error."""
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    art = str(tmp_path / "art")
    built = CurationConfig(tiers=("cutoffs",), lang_col="lang",
                           quality_buckets=3)
    build_curation_artifacts(corpus, art, "doc_id", "text", built)

    # gate with a DRIFTED config (lang_col=None): artifact wins
    drifted = CurationConfig(tiers=("cutoffs",))
    got = {
        r["doc_id"]: r["q_bucket"]
        for r in gate_shard(shard, art, "doc_id", "text", drifted)
        ["cutoffs"].collect()
    }
    want = {
        r["doc_id"]: r["q_bucket"]
        for r in text.apply_cutoffs(
            text.quality_score(shard, "text"), "q_score",
            spark.read.parquet(art + "/cutoffs"), by=["lang"],
            out="q_bucket",
        ).collect()
    }
    assert got == want and set(got.values()) <= {1, 2, 3}

    # shard lacking the artifact's grouping column: guided error
    with pytest.raises(ValueError, match="shard lacks column"):
        gate_shard(
            shard.drop("lang"), art, "doc_id", "text", drifted
        )["cutoffs"]


def test_embedding_extend_overlap_guard(spark, sf_dir, tmp_path):
    """Re-extending ids already in the embedding layout would silently
    duplicate index rows (and double the gate's pairs for them) — the
    roll-forward fails loud, like every other tier."""
    from prague_spark.pipeline.curate import extend_curation_artifacts

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("vec", F.transform("embedding", lambda x: x.cast("double")))
        .select("vec_id", "vec")
    )
    corpus = emb.filter(F.col("vec_id") % 3 == 0)
    cfg = CurationConfig(tiers=("embedding",), vec_col="vec",
                         embed_centroids=4)
    v1 = str(tmp_path / "v1")
    build_curation_artifacts(corpus, v1, "vec_id", "vec", cfg)
    with pytest.raises(ValueError, match="already in the embedding"):
        extend_curation_artifacts(
            corpus.limit(30), v1, str(tmp_path / "v2"), "vec_id", "vec",
            cfg,
        )


def test_streaming_sink_state_generations_freed(docs, spark, tmp_path):
    """The streaming fold's state is checkpointed once per batch and the
    SUPERSEDED generation's blocks are freed — without this, a long
    stream accumulates every generation in executor storage and batch
    N's fold re-walks N nested layers. The sink fn is a plain function,
    so drive it directly with two static 'batches'."""
    from prague_spark.pipeline.curate import streaming_gate_sink

    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    art = str(tmp_path / "art")
    cfg = CurationConfig(
        tiers=("exact", "minhash"), minhash=_MH, cluster_state=True,
    )
    build_curation_artifacts(corpus, art, "doc_id", "text", cfg)
    fn = streaming_gate_sink(art, "doc_id", "text",
                             lambda g, b, e: None, cfg)
    sc = spark.sparkContext
    b1 = shard.filter(F.col("doc_id") % 2 == 0)
    b2 = shard.filter(F.col("doc_id") % 2 == 1)
    fn(b1, 0)
    gen1 = set(fn.state["_ckpt_ids"])
    assert gen1 and gen1 <= dedup._persistent_rdd_ids(sc)
    n1 = fn.state["assign"].count()
    fn(b2, 1)
    gen2 = set(fn.state["_ckpt_ids"])
    live = dedup._persistent_rdd_ids(sc)
    assert gen2 and gen2 <= live
    assert not (gen1 & live), "superseded state generation not freed"
    # the surviving state is the full fold (usable after the free)
    assert fn.state["assign"].count() >= n1


def test_streaming_sink_fold_window_spares_gate_pin(docs, spark, tmp_path):
    """The fold's id-diff free window must not swallow the minhash
    gate's pinned band frame: the pin persists lazily, so without the
    pre-window materialization its cached RDD registers mid-fold and
    gets freed with the fold's internal generations — every later
    consumer of gates['minhash'] in on_batch then recomputes the full
    shard signature pass against an already-freed handle."""
    from prague_spark.pipeline.curate import streaming_gate_sink

    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    art = str(tmp_path / "art")
    cfg = CurationConfig(
        tiers=("exact", "minhash"), minhash=_MH, cluster_state=True,
    )
    build_curation_artifacts(corpus, art, "doc_id", "text", cfg)
    captured: dict = {}
    fn = streaming_gate_sink(art, "doc_id", "text",
                             lambda g, b, e: captured.update(g), cfg)
    sc = spark.sparkContext
    for i, batch in enumerate((shard.filter(F.col("doc_id") % 2 == 0),
                               shard.filter(F.col("doc_id") % 2 == 1))):
        base = dedup._persistent_rdd_ids(sc)
        fn(batch, i)
        live = dedup._persistent_rdd_ids(sc)
        # ids this batch ADDED and kept = the fresh state checkpoint
        # plus the gate's pin — the pin must have survived the window
        pin_ids = live - base - set(fn.state["_ckpt_ids"])
        assert pin_ids, (
            "the minhash gate's pinned band frame was freed by the "
            "fold's id-diff window"
        )
        # a later consumer of the gate output hits the LIVE cache: the
        # recount registers nothing new in the persistent-RDD map
        captured["minhash"].count()
        assert dedup._persistent_rdd_ids(sc) == live


def test_readme_streaming_sink_quickstart(docs, spark, tmp_path):
    """The README's streaming quickstart, run verbatim over a real
    readStream: foreachBatch(streaming_gate_sink(...)), per-batch
    keeper writes from the exact gate, and the write_assignment drain
    of the folded cluster state — so the documented recipe can never
    drift from the working one."""
    from prague_spark.pipeline.curate import streaming_gate_sink

    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    art = str(tmp_path / "idx_v1")
    cfg = CurationConfig(
        tiers=("exact", "minhash"), minhash=_MH, cluster_state=True,
    )
    build_curation_artifacts(corpus, art, "doc_id", "text", cfg)

    src = str(tmp_path / "src")
    shard.write.parquet(src)
    stream = spark.readStream.schema(shard.schema).parquet(src)
    keepers_out = str(tmp_path / "keepers")

    # --- the README snippet, with paths substituted ---
    def on_batch(gates, batch_df, epoch_id):
        keepers = batch_df.join(
            gates["exact"].filter("dup_of IS NULL").select("doc_id"),
            "doc_id", "semi",
        )
        keepers.write.mode("append").parquet(keepers_out)

    fn = streaming_gate_sink(art, "doc_id", "text", on_batch, cfg)
    q = (stream.writeStream.foreachBatch(fn)
         .option("checkpointLocation", str(tmp_path / "_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    state_out = str(tmp_path / "idx_v2" / "cluster_state")
    if fn.state["assign"] is not None:
        dedup.write_assignment(fn.state["assign"], state_out)
    # --- end snippet ---

    # keepers: exactly the batch-mode exact-gate keepers of the shard
    want = shard.join(
        dedup.exact_dedup_against(
            shard,
            spark.read.parquet(f"{art}/{ARTIFACTS['exact']}"),
            "doc_id", "text", unique_index=True,
        ).filter("dup_of IS NULL").select("doc_id"),
        "doc_id", "semi",
    )
    got = spark.read.parquet(keepers_out)
    assert got.count() == want.count()
    assert got.join(want.select("doc_id"), "doc_id", "semi").count() \
        == got.count()
    # the drained state loads back through the validating reader
    restored = dedup.read_assignment(spark, state_out, validate=True)
    assert restored.count() == fn.state["assign"].count()


def test_batch_gate_cluster_fold_spares_gate_pin(docs, spark, tmp_path):
    """The BATCH twin of the streaming pin property: gate_shard's eager
    cluster fold internally checkpoints with id-diff tracking, and the
    minhash gate's lazily-persisted band pin must SURVIVE it. Today
    that holds by construction — connected_components_against persists
    its pair input and first materializes it (pin included) in an
    untracked action — but a refactor that moves the pairs' first
    materialization inside a tracked window would silently free the
    live pin (the streaming sink needed an explicit pre-window
    materialization for exactly this); this test pins the property."""
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    art = str(tmp_path / "art")
    cfg = CurationConfig(
        tiers=("exact", "minhash"), minhash=_MH, cluster_state=True,
    )
    build_curation_artifacts(corpus, art, "doc_id", "text", cfg)
    sc = spark.sparkContext
    gates = gate_shard(shard, art, "doc_id", "text", cfg)
    # later consumers of the gate output hit the LIVE pin and register
    # nothing new in the persistent-RDD map
    n1 = gates["minhash"].count()
    live = dedup._persistent_rdd_ids(sc)
    assert gates["minhash"].count() == n1
    assert dedup._persistent_rdd_ids(sc) == live
    # the discriminator: the pin must still OWN a persistent RDD — a
    # deliberate eviction through the registry frees it, shrinking the
    # persistent map. (A fold-window-freed pin leaves nothing to free:
    # its buffers RDD is already level-NONE and recounts silently
    # recompute without re-registering, which is why the recount
    # assertions above cannot catch the bug alone.)
    dedup._evict_generation(dedup._gen_cache("minhash_gate"))
    freed = live - dedup._persistent_rdd_ids(sc)
    assert freed, (
        "the minhash gate's pinned band frame was already freed by the "
        "cluster fold's internal checkpoint windows"
    )


def test_overlap_tier_jobs_reports_every_failure():
    # the first failure in tier order is raised; the later ones ride on
    # it as notes instead of vanishing
    from prague_spark.pipeline.curate import _overlap_tier_jobs

    def boom(msg, exc=ValueError):
        def thunk():
            raise exc(msg)
        return thunk

    with pytest.raises(ValueError, match="exact broke") as info:
        _overlap_tier_jobs([
            ("exact", boom("exact broke")),
            ("minhash", lambda: 3),
            ("spans", boom("spans broke", RuntimeError)),
        ])
    assert info.value.__notes__ == [
        "tier 'spans' also failed: RuntimeError: spans broke"
    ]
