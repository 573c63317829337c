"""The benchmark's workloads: seeded NumPy inputs, the timed operation
sequence, and the correctness checks on its outputs.

Each workload is a class built from its sizes. ``load`` generates the
inputs from a seed and caches them in Spark; ``ops`` returns one pass's
operations in call order, each a ``(layer, op, kind, fn)`` tuple where
``kind`` is ``build`` (producing a model or index) or ``serve``
(answering with one); ``check`` compares one output with its reference
and returns an error string or ``None``; ``scores`` names the quality
figures of one pass's outputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import prague_spark as ps
from prague_spark.core.ref_fit import numpy_path_fit
from prague_spark.pipeline import curate, dedup, similarity


def _frame(spark, cols: dict):
    # createDataFrame already slices the rows over the default parallelism
    return spark.createDataFrame(pd.DataFrame(cols)).cache()


def _betas_close(got: np.ndarray, ref: np.ndarray, rtol: float, atol: float):
    k = min(got.shape[0], ref.shape[0])
    if k < 2:
        return f"path has {k} points"
    if not np.allclose(got[:k], ref[:k], rtol=rtol, atol=atol):
        err = float(np.max(np.abs(got[:k] - ref[:k])))
        return f"coefficients differ from numpy_path_fit by {err:.3g}"
    return None


class GlmDense:
    """Tall dense table through the paper's lifecycle: Gram-route
    gaussian path, in-core and distributed binomial fits, held-out
    scoring, and 5-fold cross-validation."""

    def __init__(self, n=100_000, p=20, n_bin=20_000, p_bin=10,
                 n_spark=4_000, n_sigma=30, n_test=20_000):
        self.n, self.p, self.n_bin, self.p_bin = n, p, n_bin, p_bin
        self.n_spark, self.n_sigma, self.n_test = n_spark, n_sigma, n_test
        self.feats = [f"x{j}" for j in range(p)]
        self.feats_bin = self.feats[:p_bin]

    def load(self, spark, seed: int) -> None:
        rng = np.random.default_rng(seed)
        n_all = self.n + self.n_test
        X = rng.standard_normal((n_all, self.p))
        beta = np.zeros(self.p)
        support = rng.choice(self.p, size=max(2, self.p // 4), replace=False)
        beta[support] = rng.choice([-1.5, 1.5], size=support.size)
        y = X @ beta + rng.standard_normal(n_all)
        eta = X[:, : self.p_bin] @ beta[: self.p_bin]
        yb = np.where(rng.random(n_all) < 1.0 / (1.0 + np.exp(-eta)), "pos", "neg")
        self.X, self.y, self.yb = X, y, yb
        cols = {f: X[:, j] for j, f in enumerate(self.feats)}
        cols.update(y=y, yb=yb)
        whole = pd.DataFrame(cols)
        whole["rid"] = np.arange(n_all)
        # the four inputs are row ranges, and the reference takes the same
        # ranges; createDataFrame slices each over the default parallelism
        rid = whole["rid"].to_numpy()
        self.frames = [
            spark.createDataFrame(whole[mask]).cache()
            for mask in (rid < self.n, rid >= self.n, rid < self.n_bin,
                         rid < self.n_spark)
        ]
        for df in self.frames:
            df.count()
        self.train, self.test, self.bin, self.bin_spark = self.frames
        self._refs: dict = {}

    def unload(self) -> None:
        for df in self.frames:
            df.unpersist()

    # short binomial paths: each distributed pass is a Spark job, and
    # the in-core path is driver NumPy. Screening off keeps the in-core
    # fit on the reference's own iteration, so the check can be exact.
    BIN_KW = dict(n_sigma=5, lambda_min_ratio=0.2, screening=False)
    SPARK_KW = dict(n_sigma=2, lambda_min_ratio=0.5, screening=False)

    def ops(self):
        out: dict = {}

        def fit_gauss():
            out["gauss"] = ps.fit(self.train, self.feats, "y", "gaussian",
                                  n_sigma=self.n_sigma)
            return out["gauss"]

        def cv():
            out["cv"] = ps.cv_fit(self.train, self.feats, "y", "gaussian",
                                  n_folds=5, n_sigma=10, seed=1)
            return out["cv"]

        def score_mse():
            cvr = out["cv"]
            k = int(cvr.optima[0]["sigma_idx"])
            mse = ps.score(self.test, cvr.model, "y", "mse", path_idx=k)
            return mse

        def fit_incore():
            out["bin"] = ps.fit(self.bin, self.feats_bin, "yb", "binomial",
                                solver="incore", **self.BIN_KW)
            return out["bin"]

        def fit_spark():
            return ps.fit(self.bin_spark, self.feats_bin, "yb", "binomial",
                          solver="spark", **self.SPARK_KW)

        def score_auc():
            return ps.score(self.test, out["bin"], "yb", "auc")

        return [
            ("fit", "gaussian_gram", "build", fit_gauss),
            ("ops.cv", "cv_fit", "build", cv),
            ("ops.score", "mse", "serve", score_mse),
            ("fit", "binomial_incore", "build", fit_incore),
            ("fit", "binomial_spark", "build", fit_spark),
            ("ops.score", "auc", "serve", score_auc),
        ]

    def _ref(self, key, X, y, family, screening=False, **kw):
        # the reference has no screening: it always solves the full problem
        if key not in self._refs:
            self._refs[key] = numpy_path_fit(X, y, family, **kw)["betas"]
        return self._refs[key]

    def check(self, op: str, res):
        n, nb, ns, pb = self.n, self.n_bin, self.n_spark, self.p_bin
        if op == "gaussian_gram":
            # ADMM on the Gram vs the reference's FISTA: both stop on a
            # tolerance, so they agree to tests/test_fit.py's
            # gram-vs-spark parity bound, not to the ulp
            ref = self._ref("gauss", self.X[:n], self.y[:n], "gaussian",
                            n_sigma=self.n_sigma)
            return _betas_close(res.betas, ref, rtol=5e-3, atol=2e-4)
        if op == "binomial_incore":
            # the reference's own iteration on the same rows: ulp-scale
            # agreement, the tolerance tests/test_grouped.py pins
            ref = self._ref("bin", self.X[:nb, :pb], self.yb[:nb], "binomial",
                            **self.BIN_KW)
            return _betas_close(res.betas, ref, rtol=1e-9, atol=1e-9)
        if op == "binomial_spark":
            # fixed-step FISTA stopped at a relative duality gap of 1e-5
            # pins the coefficients only to ~sqrt(1e-5) of their scale
            ref = self._ref("spark", self.X[:ns, :pb], self.yb[:ns], "binomial",
                            **self.SPARK_KW)
            return _betas_close(res.betas, ref, rtol=0.0,
                                atol=2e-3 * float(np.abs(ref).max()))
        if op == "cv_fit":
            if not res.optima or res.model.n_path < 2:
                return "cv_fit returned no optimum"
            return None
        if op == "mse":
            yt = self.y[n:]
            if not (0.0 < res < float(np.var(yt))):
                return f"held-out mse {res} is not below the response variance"
            return None
        if op == "auc":
            if not (0.6 < res <= 1.0):
                return f"held-out auc {res} does not beat chance"
            return None
        return f"unknown op {op}"

    def scores(self, outputs: dict) -> dict:
        return {"heldout_score":
                1.0 - outputs["mse"] / float(np.var(self.y[self.n:]))}


class GlmSparseWide:
    """Long-format sparse design far past the Gram limit: screened
    ``fit_sparse`` paths for three families, then ``score_sparse``."""

    RATIOS = {"gaussian": 0.15, "binomial": 0.35, "multinomial": 0.5}
    MIN_RECALL = {"gaussian": 0.95, "binomial": 0.95, "multinomial": 0.9}

    def __init__(self, n=5_000, p=2_500, nnz=16, k=50, n_sigma=5):
        self.n, self.p, self.nnz, self.k = n, p, nnz, k
        self.n_sigma = n_sigma

    def load(self, spark, seed: int) -> None:
        rng = np.random.default_rng(seed)
        n, p, nnz = self.n, self.p, self.nnz
        # nnz distinct columns per row, spread over [0, p)
        stride = p // nnz
        offs = rng.integers(0, p, size=n)
        cols = (offs[:, None] + stride * np.arange(nnz)[None, :]) % p
        vals = rng.standard_normal((n, nnz))
        beta = np.zeros(p)
        self.support = np.sort(rng.choice(p, size=self.k, replace=False))
        beta[self.support] = 3.0 * np.where(np.arange(self.k) % 2 == 0, 1.0, -1.0)
        lp = (vals * beta[cols]).sum(axis=1)
        u = rng.random(n)
        prob = 1.0 / (1.0 + np.exp(-lp))
        e0, e1 = np.exp(lp), np.exp(-lp)
        z = e0 + e1 + 1.0
        labels = {
            "gaussian": lp + rng.standard_normal(n),
            "binomial": np.where(u < prob, "pos", "neg"),
            "multinomial": np.where(u < e0 / z, "c0",
                                    np.where(u < (e0 + e1) / z, "c1", "c2")),
        }
        rows = np.repeat(np.arange(n), nnz)
        self.trip = _frame(spark, {"row_id": rows,
                                   "col_id": cols.ravel().astype(np.int32),
                                   "value": vals.ravel()})
        self.ys = {
            fam: _frame(spark, {"row_id": np.arange(n), "y": y})
            for fam, y in labels.items()
        }
        self.y_gauss = labels["gaussian"]
        for df in (self.trip, *self.ys.values()):
            df.count()

    def unload(self) -> None:
        for df in (self.trip, *self.ys.values()):
            df.unpersist()

    def ops(self):
        out: dict = {}

        def fitter(fam):
            def fn():
                out[fam] = ps.fit_sparse(
                    self.trip, self.ys[fam], "y", fam, n_cols=self.p,
                    n_sigma=self.n_sigma, lambda_min_ratio=self.RATIOS[fam],
                )
                return out[fam]
            return fn

        def score():
            return ps.score_sparse(self.trip, self.ys["gaussian"],
                                   out["gaussian"], "y", "mse")

        return [
            ("ops.sparse", f"fit_{fam}", "build", fitter(fam))
            for fam in self.RATIOS
        ] + [("ops.sparse", "score", "serve", score)]

    def _support_recall(self, model) -> float:
        b = np.abs(model.betas[-1, 1:, :]).sum(axis=1)
        return float(np.mean(b[self.support] > 0))

    def check(self, op: str, res):
        if op.startswith("fit_"):
            rec = self._support_recall(res)
            # the deepest point holds the planted support: 0.98-1.0 over
            # seeds 1-4 and 31-42. The multinomial splits each column's
            # signal over three classes and may miss a few: seed 21 gives
            # 0.94, with the same three columns missing with screening off
            if rec < self.MIN_RECALL[op[4:]]:
                return f"planted support recall {rec:.2f} at the deepest point"
            return None
        if op == "score":
            if not (0.0 < res < float(np.var(self.y_gauss))):
                return f"in-sample mse {res} is not below the response variance"
            return None
        return f"unknown op {op}"

    def scores(self, outputs: dict) -> dict:
        # In-sample (the sequence has no CV step) deviance ratio, as a
        # share of the planted model's: the noise has unit variance, so
        # that is 1 - 1/var(y). Dividing by it cancels the seed-to-seed
        # spread of signal strength.
        var_y = float(np.var(self.y_gauss))
        return {"deviance_ratio_vs_planted":
                (1.0 - outputs["score"] / var_y) / (1.0 - 1.0 / var_y)}


class CorpusDedup:
    """Generated corpus with planted near-duplicates: curation artifact
    build and shard gate, MinHash LSH with connected components, banded
    embedding-cosine pairs and an IVF-PQ kNN join."""

    name = "corpus_dedup"

    def __init__(self, n_docs=1_000, n_vecs=600, dim=64, n_queries=60,
                 dup_frac=0.1):
        self.n_docs, self.n_vecs, self.dim = n_docs, n_vecs, dim
        self.n_queries, self.dup_frac = n_queries, dup_frac
        self.work = None  # set by the runner: a scratch dir per run
        self._index = None  # the IVF-PQ index the kNN join reads

    def _docs(self, rng):
        words = np.array([
            "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"),
                               size=rng.integers(3, 9)))
            for _ in range(3000)
        ])
        zipf = 1.0 / np.arange(1, words.size + 1) ** 0.8
        zipf /= zipf.sum()
        n_orig = int(self.n_docs / (1.0 + self.dup_frac))
        texts = [
            " ".join(rng.choice(words, size=rng.integers(40, 80), p=zipf))
            for _ in range(n_orig)
        ]
        pairs = []
        for src in rng.choice(n_orig, size=self.n_docs - n_orig, replace=False):
            toks = texts[src].split()
            # two substituted words keep bigram Jaccard near 0.9
            for pos in rng.choice(len(toks), size=2, replace=False):
                toks[pos] = str(rng.choice(words))
            pairs.append((int(src), len(texts)))
            texts.append(" ".join(toks))
        return texts, pairs

    def _vecs(self, rng):
        centers = rng.standard_normal((16, self.dim))
        n_orig = int(self.n_vecs / (1.0 + self.dup_frac))
        V = centers[rng.integers(0, 16, size=n_orig)] + 0.6 * rng.standard_normal(
            (n_orig, self.dim))
        src = rng.choice(n_orig, size=self.n_vecs - n_orig, replace=False)
        dups = V[src] + 0.02 * rng.standard_normal((src.size, self.dim))
        pairs = [(int(s), n_orig + i) for i, s in enumerate(src)]
        return np.vstack([V, dups]), pairs

    def load(self, spark, seed: int) -> None:
        rng = np.random.default_rng(seed)
        texts, self.doc_pairs = self._docs(rng)
        V, self.vec_pairs = self._vecs(rng)
        ids = np.arange(len(texts))
        # shard = every fifth doc; the rest is the reference corpus
        docs = pd.DataFrame({"doc_id": ids, "text": texts,
                             "lang": np.where(ids % 2 == 0, "en", "de")})
        self.docs = spark.createDataFrame(docs).cache()
        self.corpus = self.docs.filter(F.col("doc_id") % 5 != 0)
        self.shard = self.docs.filter(F.col("doc_id") % 5 == 0)
        self.emb = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(len(V)), "vec": list(V)})
        ).cache()
        q = rng.choice(len(V), size=self.n_queries, replace=False)
        self.queries = self.emb.filter(F.col("vec_id").isin([int(i) for i in q])).select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"))
        # exact cosines: the references for the pair and kNN checks
        self.U = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = self.U[q] @ self.U.T
        self.cos = dict(zip(q.tolist(), S))
        self.topk = {int(i): set(np.argsort(-s, kind="stable")[:10].tolist())
                     for i, s in zip(q, S)}
        for df in (self.docs, self.emb):
            df.count()

    def _drop_index(self) -> None:
        if self._index is not None:
            self._index[0].unpersist()
            self._index = None

    def unload(self) -> None:
        self._drop_index()
        for df in (self.emb, self.docs):
            df.unpersist()

    def ops(self):
        out: dict = {}
        art = os.path.join(self.work, "artifacts")
        shutil.rmtree(art, ignore_errors=True)
        cfg = curate.CurationConfig(span_k=5, lang_col="lang")

        def build():
            return curate.build_curation_artifacts(
                self.corpus, art, "doc_id", "text", cfg)

        def gate():
            gates = curate.gate_shard(self.shard, art, "doc_id", "text", cfg)
            return curate.materialize_gates(gates), gates["minhash"]

        def minhash():
            sig = dedup.minhash_signatures(self.docs, "doc_id", "text",
                                           num_hashes=32)
            out["cand"] = dedup.minhash_lsh_candidates(
                sig, "doc_id", bands=8, rows_per_band=4)
            return {(int(r[0]), int(r[1])) for r in out["cand"].collect()}

        def components():
            cc = dedup.connected_components(out["cand"])
            return {int(r[0]): int(r[1]) for r in cc.collect()}

        def emb_pairs():
            pairs = dedup.embedding_cosine_pairs(
                self.emb, "vec_id", "vec", threshold=0.9, n_planes=8,
                n_bands=8)
            return {(int(r[0]), int(r[1])): float(r[2]) for r in pairs.collect()}

        def ivfpq_build():
            C, books = similarity.train_ivfpq(
                self.emb, "vec", n_centroids=8, n_subvectors=8, n_codes=16,
                sample_rows=2000)
            idx = similarity.assign_ivfpq(self.emb, "vec", C, books).cache()
            idx.count()
            self._drop_index()
            self._index = (idx, C, books)
            return C.shape

        def knn():
            idx, C, books = self._index
            res = similarity.ivfpq_knn_join(
                self.queries, idx, C, books, k=10, nprobe=4,
                rerank_vec_col="vec", shortlist=50,
            ).collect()
            return [(int(r[0]), int(r[1]), float(r[2])) for r in res]

        return [
            ("pipeline.curate", "build_artifacts", "build", build),
            ("pipeline.curate", "gate", "serve", gate),
            ("pipeline.dedup", "minhash_lsh", "serve", minhash),
            ("pipeline.dedup", "connected_components", "serve", components),
            ("pipeline.dedup", "embedding_pairs", "serve", emb_pairs),
            ("pipeline.similarity", "ivfpq_build", "build", ivfpq_build),
            ("pipeline.similarity", "ivfpq_knn_join", "serve", knn),
        ]

    # -- checks ------------------------------------------------------
    def _recall(self, pairs, found) -> float:
        if not pairs:
            return 1.0
        hit = sum((min(a, b), max(a, b)) in found for a, b in pairs)
        return hit / len(pairs)

    def dup_recall(self, cand: set) -> float:
        return self._recall(self.doc_pairs, {(min(a, b), max(a, b)) for a, b in cand})

    def knn_recall(self, res) -> float:
        got: dict = {}
        for q, c, _ in res:
            got.setdefault(q, set()).add(c)
        return float(np.mean([len(got.get(q, set()) & t) / 10.0
                              for q, t in self.topk.items()]))

    def check(self, op: str, res):
        if op == "build_artifacts":
            missing = [t for t in curate.DEFAULT_TIERS if t not in res]
            return f"artifacts missing {missing}" if missing else None
        if op == "gate":
            counts, minhash = res
            pairs = [(int(r[0]), int(r[1])) for r in minhash.collect()]
            n_shard = sum(1 for i in range(self.n_docs) if i % 5 == 0)
            if counts["exact"] != n_shard or counts["cutoffs"] != n_shard:
                return f"gate row counts {counts} != shard size {n_shard}"
            # planted pairs with exactly one side in the shard must surface
            cross = [(a, b) for a, b in self.doc_pairs if (a % 5 == 0) != (b % 5 == 0)]
            rec = self._recall(cross, {(min(a, b), max(a, b)) for a, b in pairs})
            return None if rec >= 0.9 else f"gate near-dup recall {rec:.2f}"
        if op == "minhash_lsh":
            rec = self.dup_recall(res)
            return None if rec >= 0.9 else f"minhash pair recall {rec:.2f}"
        if op == "connected_components":
            split = [(a, b) for a, b in self.doc_pairs
                     if a in res and b in res and res[a] != res[b]]
            if split:
                return f"{len(split)} candidate pairs split across clusters"
            if any(res[v] > v for v in res):
                return "cluster label is not the minimum member id"
            return None
        if op == "embedding_pairs":
            rec = self._recall(self.vec_pairs, res.keys())
            if rec < 0.9:
                return f"embedding pair recall {rec:.2f}"
            for (a, b), c in res.items():
                if abs(float(self.U[a] @ self.U[b]) - c) > 1e-9 or c < 0.9:
                    return f"pair ({a}, {b}) cosine {c} is wrong"
            return None
        if op == "ivfpq_build":
            return None
        if op == "ivfpq_knn_join":
            return self._check_knn(res)
        return f"unknown op {op}"

    def _check_knn(self, res):
        # rerank scores are exact cosines; recall is against exact top-10
        for q, c, s in res:
            if abs(float(self.cos[q][c]) - s) > 1e-9:
                return f"knn score for ({q}, {c}) is {s}, exact {self.cos[q][c]}"
        rec = self.knn_recall(res)
        return None if rec >= 0.8 else f"knn recall@10 {rec:.2f}"

    def check_trace(self, metrics: dict):
        # materialize_gates submits its tier jobs from a thread pool;
        # attribution by time window must still find them
        if metrics.get("pipeline.curate.gate.jobs", 0) <= 0:
            return "no Spark jobs attributed to pipeline.curate.gate"
        return None

    def scores(self, outputs: dict) -> dict:
        return {"dup_recall": self.dup_recall(outputs["minhash_lsh"]),
                "knn_recall_at_10": self.knn_recall(outputs["ivfpq_knn_join"])}


class Glm:
    """The dense and the wide-sparse sequences in one run. Sharing one JVM
    and one set-up keeps the full check within its time budget; the op
    names and layers stay those of the two parts."""

    name = "glm"
    # its serve ops are short, so more calls steady their medians cheaply
    CALLS = {"build": 1, "serve": 6}

    def __init__(self):
        self.parts = (GlmDense(), GlmSparseWide())

    def load(self, spark, seed: int) -> None:
        for w in self.parts:
            w.load(spark, seed)

    def unload(self) -> None:
        for w in self.parts:
            w.unload()

    def ops(self):
        self._owner = {}
        out = []
        for w in self.parts:
            for op in w.ops():
                self._owner[op[1]] = w
                out.append(op)
        return out

    def check(self, op: str, res):
        return self._owner[op].check(op, res)

    def scores(self, outputs: dict) -> dict:
        return {k: v for w in self.parts for k, v in w.scores(outputs).items()}


WORKLOADS = {w.name: w for w in (Glm, CorpusDedup)}
