"""The three workloads. Each drives ``replay_spark`` only through its
public calls, wraps every call into a library layer in a span named
after that layer's module, and checks each answer against an oracle
of its own (numpy or pandas) outside the timed region.

A span's output frame, when later spans consume it, is cached and
counted inside the span, so the Spark work a layer causes lands in
that layer's span instead of in whichever later call first runs an
action. The benchmark releases its own caches after every op; caches
the library makes and keeps are left alone and show up in the
``session.persisted_frames`` ledger.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

import inputs

LOG_SCHEMA = "query_id long, item_id long, timestamp long, rating double"
EVENT_SCHEMA = "query_id string, item_id string, timestamp long, rating double"
K = 10


ALS_RANK = 8
#: the lake takes a checkpoint after this many commits, on every workload
CHECKPOINT_EVERY = 3


@dataclass
class Scale:
    """The input sizes that differ between ``FULL``, what the benchmark
    runs, and ``SMOKE``, what its own smoke test runs."""

    # offline_eval
    users: int = 500
    mean_len: int = 15
    # ingest_refresh
    batch_rows: int = 1000
    stream_users: int = 800
    stream_items: int = 300
    window_batches: int = 4
    # ann_retrieval
    corpus: int = 1500
    queries: int = 48


FULL = Scale()
SMOKE = Scale(
    users=200, mean_len=12, batch_rows=300, stream_users=200,
    stream_items=100, window_batches=3, corpus=300, queries=8,
)


def _schema():
    from replay_spark.data import FeatureHint, FeatureInfo, FeatureSchema, FeatureType

    return FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("timestamp", FeatureType.NUMERICAL, FeatureHint.TIMESTAMP),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
        ]
    )


def _materialize(df):
    df = df.cache()
    df.count()
    return df


def _persist_split(spark, path: str, *frames):
    """Hand the prepared split to the models the way a training
    pipeline does: write it out and read it back, cached. Model calls
    then plan against a file scan instead of the whole preparation
    lineage, whose planning cost would otherwise dominate every one
    of them (see README)."""
    out = []
    for n, df in enumerate(frames):
        part = f"{path}-{n}.parquet"
        df.write.mode("overwrite").parquet(part)
        out.append(_materialize(spark.read.parquet(part)))
    return out


@dataclass
class Answer:
    """What one op returned, kept for its oracle."""

    rows: int
    payload: dict = field(default_factory=dict)
    frames: list = field(default_factory=list)  # benchmark-owned caches


class Workload:
    name = ""
    #: untimed ops after the build, so JIT and lazy set-up settle
    warmup_ops = 2

    def __init__(self, spark, seed: int, workdir: str, scale: Scale):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.scale = scale

    def prepare(self) -> None:
        """Generate this run's inputs (not part of any timing)."""

    def build(self, tr) -> None:
        """The library's one-off work before the first answer."""
        raise NotImplementedError

    def before_op(self, i: int) -> None:
        """Untimed per-op input generation."""

    def op(self, i: int, tr) -> Answer:
        raise NotImplementedError

    def check(self, i: int, ans: Answer) -> Tuple[bool, float, dict]:
        """(passed, quality, extra record fields), outside timing."""
        raise NotImplementedError

    def finish(self) -> dict:
        """Whole-run facts for the record, after the last op."""
        return {}


# -- offline_eval -------------------------------------------------------------


def ndcg_hit_at_k(recs: pd.DataFrame, truth: pd.DataFrame, k: int = K):
    """Mean NDCG@k and HitRate@k over the ground-truth users, from the
    returned recommendations. Each user's list is ordered by score,
    then item id, both descending; a user without recommendations
    scores 0."""
    ranked = recs.sort_values(
        ["query_id", "rating", "item_id"], ascending=[True, False, False]
    )
    lists = ranked.groupby("query_id")["item_id"].apply(lambda s: list(s)[:k])
    gt = truth.groupby("query_id")["item_id"].apply(set)
    disc = 1.0 / np.log2(np.arange(2, k + 2))
    ndcg, hit = [], []
    for user, items in gt.items():
        pred = lists.get(user, [])
        hits = np.array([1.0 if x in items else 0.0 for x in pred])
        if not len(pred) or not items:
            ndcg.append(0.0)
            hit.append(0.0)
            continue
        idcg = disc[: min(k, len(items))].sum()
        ndcg.append(float((hits * disc[: len(hits)]).sum() / idcg))
        hit.append(float(hits.max()))
    return float(np.mean(ndcg)), float(np.mean(hit))


class OfflineEval(Workload):
    """The RePlay models-comparison loop, warm: one op is one round of
    PopRec, ItemKNN, ALSWrap and SLIM, each fit -> predict(k=10) ->
    Experiment.add_result. The model objects and the experiment live
    across rounds, as in a loop that refits the same model set."""

    name = "offline_eval"
    CHUNKS = 6

    def prepare(self):
        s = self.scale
        log = inputs.zipf_log(self.seed, s.users, s.mean_len)
        # time-ordered chunks, appended one by one; the build reads back
        # all but the oldest
        order = np.argsort(log["timestamp"].to_numpy(), kind="stable")
        self.chunks = [log.iloc[part] for part in np.array_split(order, self.CHUNKS)]
        self.since = int(self.chunks[1]["timestamp"].min())
        self.until = int(log["timestamp"].max())
        self.user_bytes = _user_bytes(log)

    def build(self, tr):
        from replay_spark.data import Dataset
        from replay_spark.lake import LakeTable
        from replay_spark.preprocessing import LabelEncoder, LabelEncodingRule, MinCountFilter
        from replay_spark.splitters import LastNSplitter

        self.lake_dir = os.path.join(self.workdir, "lake")
        schema = _schema()
        table = LakeTable(
            self.spark, self.lake_dir, auto_checkpoint_every=CHECKPOINT_EVERY
        )
        for n, chunk in enumerate(self.chunks):
            with tr.span("data.load"):
                df = self.spark.createDataFrame(chunk, LOG_SCHEMA).coalesce(1)
            with tr.span("lake.append"):
                table.append(df)
            if n == 0:
                table.enable_column_stats(["timestamp"])
        # the lake starts empty and appends remove nothing, so what it
        # holds now is what the appends wrote
        self.write_log = [
            {
                "appends": len(self.chunks),
                "bytes_written": _dir_bytes(self.lake_dir),
                "user_bytes": self.user_bytes,
                "checkpoints": _checkpoints(self.lake_dir),
            }
        ]
        with tr.span("lake.read_where") as rec:
            window, kept_files, total_files = table.read_where(
                {"timestamp": (self.since, self.until)}
            )
            window = _materialize(window)
            rec["files_kept"], rec["files_total"] = kept_files, total_files
            log = Dataset(schema, window, check_consistency=False).interactions
        with tr.span("preprocessing.filter"):
            kept = _materialize(MinCountFilter(5, "query_id").transform(log))
        with tr.span("preprocessing.encode"):
            encoder = LabelEncoder(
                [LabelEncodingRule("query_id"), LabelEncodingRule("item_id")]
            )
            encoded = _materialize(encoder.fit_transform(kept))
        with tr.span("splitters.split"):
            train, test = LastNSplitter(
                N=2, divide_column="query_id", drop_cold_items=True,
                drop_cold_users=True,
            ).split(encoded)
            self.train, self.test = _persist_split(
                self.spark, os.path.join(self.workdir, "split"), train, test
            )
        for df in (window, kept, encoded):
            df.unpersist()
        self.train_ds = Dataset(schema, self.train, check_consistency=False)
        self.train_rows = self.train.count()
        self.truth = self.test.select("query_id", "item_id").toPandas()
        self.models = self._models()
        self.experiment = None

    def _models(self):
        from replay_spark.models import ALSWrap, ItemKNN, PopRec, SLIM

        return [
            PopRec(),
            ItemKNN(num_neighbours=20),
            ALSWrap(
                rank=ALS_RANK, seed=self.seed, num_item_blocks=2,
                num_query_blocks=2,
            ),
            SLIM(beta=0.01, lambda_=0.01, seed=self.seed),
        ]

    def op(self, i, tr):
        from replay_spark.metrics import Experiment, HitRate, NDCG

        if self.experiment is None:
            self.experiment = Experiment([NDCG(K), HitRate(K)], self.test)
        exp = self.experiment
        recs_by_model = {}
        for model in self.models:
            name = type(model).__name__
            with tr.span(f"models.fit.{name}"):
                model.fit(self.train_ds)
            with tr.span(f"models.predict.{name}"):
                recs = _materialize(model.predict(self.train_ds, k=K))
            with tr.span("metrics.add_result"):
                exp.add_result(name, recs)
            recs_by_model[name] = recs
        return Answer(
            rows=self.train_rows,
            payload={"recs": recs_by_model, "results": exp.results.copy()},
            frames=list(recs_by_model.values()),
        )

    def check(self, i, ans):
        ok, ndcgs, extra = True, [], {}
        for name, recs in ans.payload["recs"].items():
            pdf = recs.toPandas()
            ndcg, hit = ndcg_hit_at_k(pdf, self.truth)
            got = ans.payload["results"].loc[name]
            agree = abs(got[f"NDCG@{K}"] - ndcg) < 1e-9 and abs(
                got[f"HitRate@{K}"] - hit
            ) < 1e-9
            per_user = pdf.groupby("query_id").size()
            ok = ok and agree and per_user.max() <= K and not pdf.duplicated(
                ["query_id", "item_id"]
            ).any()
            ndcgs.append(ndcg)
            extra[name] = {"ndcg": ndcg, "hit_rate": hit, "agrees": bool(agree)}
        return ok, float(np.mean(ndcgs)), {"models": extra}

    def finish(self):
        return {
            "space_amp": _dir_bytes(self.lake_dir) / self.user_bytes,
            "writes": self.write_log,
        }


# -- ingest_refresh -----------------------------------------------------------


def popularity_top_k(
    window: pd.DataFrame, batch_start: int, min_count: int
) -> Dict[int, Tuple[List[float], float]]:
    """Exact pandas mirror of the refresh pipeline: users with at least
    ``min_count`` window events, the last event of each held out, item
    popularity = distinct train users of the item over all train users,
    and for every user with an event at or after ``batch_start`` the
    top-k unseen items. Returns ``{user: (top-k scores, k-th score)}``
    and every train item's popularity."""
    counts = window.groupby("query_id")["item_id"].transform("size")
    kept = window[counts >= min_count].sort_values("timestamp")
    last = kept.groupby("query_id")["timestamp"].transform("max")
    train = kept[kept["timestamp"] < last]
    n_users = train["query_id"].nunique()
    pop = train.groupby("item_id")["query_id"].nunique() / n_users
    pop = pop.sort_values(ascending=False)
    seen = train.groupby("query_id")["item_id"].apply(set)
    users = kept.loc[kept["timestamp"] >= batch_start, "query_id"].unique()
    out = {}
    for user in users:
        s = seen.get(user, set())
        top = [v for item, v in pop.items() if item not in s][:K]
        out[user] = (top, top[-1] if top else float("inf"))
    return out, pop


class IngestRefresh(Workload):
    """Micro-batch refresh: append one batch, read back a fixed trailing
    time window, and refresh a popularity model on it."""

    name = "ingest_refresh"
    MIN_COUNT = 2
    SPAN = 100_000  # timestamp units per batch

    def prepare(self):
        self._batches: Dict[int, pd.DataFrame] = {}

    def _batch(self, index: int) -> pd.DataFrame:
        if index not in self._batches:
            s = self.scale
            self._batches[index] = inputs.event_batch(
                self.seed, index, s.batch_rows, s.stream_users, s.stream_items,
                self.SPAN,
            )
            self._batches.pop(index - 2 * s.window_batches, None)
        return self._batches[index]

    def build(self, tr):
        from replay_spark.lake import LakeTable
        from replay_spark.preprocessing import LabelEncoder, LabelEncodingRule

        self.lake_dir = os.path.join(self.workdir, "lake")
        self.table = LakeTable(
            self.spark, self.lake_dir,
            auto_checkpoint_every=CHECKPOINT_EVERY,
        )
        self.model = None
        self.next_batch = self.scale.window_batches
        self.user_bytes = 0
        self.write_log: List[dict] = []
        for b in range(self.scale.window_batches):
            self._append(b, tr)
            if b == 0:
                self.table.enable_column_stats(["timestamp"])
        with tr.span("preprocessing.encode"):
            encoder = LabelEncoder(
                [LabelEncodingRule("query_id"), LabelEncodingRule("item_id")]
            ).fit(self.table.read())
            self.mappings = {r.column: r.get_mapping() for r in encoder.rules}

    def _append(self, index: int, tr):
        pdf = self._batch(index)
        with tr.span("data.load"):
            batch = self.spark.createDataFrame(pdf, EVENT_SCHEMA).coalesce(1)
        with tr.span("lake.append"):
            self.table.append(batch)
        self.user_bytes += _user_bytes(pdf)

    def before_op(self, i):
        self._batch(self.next_batch)
        self._size_before = _dir_bytes(self.lake_dir)
        self._ckpts_before = _checkpoints(self.lake_dir)

    def op(self, i, tr):
        from replay_spark.data import Dataset
        from replay_spark.models import PopRec
        from pyspark.sql import functions as F
        from replay_spark.preprocessing import (
            LabelEncoder, LabelEncodingRule, MinCountFilter,
        )
        from replay_spark.splitters import LastNSplitter

        index = self.next_batch
        self.next_batch += 1
        self._append(index, tr)
        lo = (index + 1 - self.scale.window_batches) * self.SPAN
        hi = (index + 1) * self.SPAN - 1
        with tr.span("lake.read_where") as rec:
            window, kept, total = self.table.read_where({"timestamp": (lo, hi)})
            window = _materialize(window)
            rec["files_kept"], rec["files_total"] = kept, total
        with tr.span("preprocessing.filter"):
            filtered = _materialize(
                MinCountFilter(self.MIN_COUNT, "query_id").transform(window)
            )
        with tr.span("preprocessing.encode"):
            # carried through the driver: partial_fit on one long-lived
            # encoder grows its mapping's plan ~2.4x per call (see README)
            encoder = LabelEncoder(
                [LabelEncodingRule(c, mapping=m) for c, m in self.mappings.items()]
            ).partial_fit(filtered)
            encoded = _materialize(encoder.transform(filtered))
            self.mappings = {r.column: r.get_mapping() for r in encoder.rules}
        with tr.span("splitters.split"):
            train, test = LastNSplitter(N=1, divide_column="query_id").split(encoded)
            train, test = _persist_split(
                self.spark, os.path.join(self.workdir, "split"), train, test
            )
        if self.model is None:
            self.model = PopRec()
        ds = Dataset(_schema(), train, check_consistency=False)
        with tr.span("models.fit.PopRec"):
            self.model.fit(ds)
        with tr.span("models.predict.PopRec"):
            # every user's last event is in test: those in this batch
            users = test.filter(F.col("timestamp") >= index * self.SPAN)
            recs = self.model.predict(ds, k=K, queries=users).toPandas()
        return Answer(
            rows=len(self._batch(index)),
            payload={"recs": recs, "index": index, "lo": lo, "hi": hi},
            frames=[window, filtered, encoded, train, test],
        )

    def check(self, i, ans):
        p = ans.payload
        index = p["index"]
        frames = [
            self._batch(b)
            for b in range(index + 1 - self.scale.window_batches, index + 1)
        ]
        window = pd.concat(frames)
        window = window[(window["timestamp"] >= p["lo"]) & (window["timestamp"] <= p["hi"])]
        expect, pop = popularity_top_k(window, index * self.SPAN, self.MIN_COUNT)
        inv_u = {c: r for r, c in self.mappings["query_id"].items()}
        inv_i = {c: r for r, c in self.mappings["item_id"].items()}
        recs = p["recs"]
        recs = recs.assign(
            query_id=recs["query_id"].map(inv_u), item_id=recs["item_id"].map(inv_i)
        )
        ok = set(recs["query_id"]) == set(expect) and not recs.duplicated(
            ["query_id", "item_id"]
        ).any()
        agree = total = 0
        for user, got in recs.groupby("query_id"):
            top, kth = expect.get(user, ([], float("inf")))
            scores = sorted(got["rating"], reverse=True)
            ok = ok and len(scores) == len(top) and np.allclose(scores, top)
            agree += int((pop.reindex(got["item_id"]).to_numpy() >= kth - 1e-12).sum())
            total += len(got)
        size_after = _dir_bytes(self.lake_dir)
        self.write_log.append(
            {
                "appends": 1,
                "bytes_written": size_after - self._size_before,
                "user_bytes": _user_bytes(self._batch(index)),
                "checkpoints": _checkpoints(self.lake_dir) - self._ckpts_before,
            }
        )
        quality = agree / total if total else 0.0
        return bool(ok), quality, {}

    def finish(self):
        return {
            "space_amp": _dir_bytes(self.lake_dir) / self.user_bytes,
            "writes": self.write_log,
        }


def _user_bytes(pdf: pd.DataFrame) -> int:
    """Bytes of the rows as the user holds them: UTF-8 for strings,
    eight per number."""
    total = 0
    for col in pdf.columns:
        if pdf[col].dtype == object:
            total += int(pdf[col].str.len().sum())
        else:
            total += 8 * len(pdf)
    return total


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _checkpoints(path: str) -> int:
    try:
        return sum(
            1 for f in os.listdir(os.path.join(path, "_log"))
            if f.startswith("_checkpoint_")
        )
    except OSError:
        return 0


# -- ann_retrieval ------------------------------------------------------------


def exact_cosine_top_k(corpus: np.ndarray, queries: np.ndarray, k: int = K):
    """Exact top-k corpus row ids per query, their cosines, and the
    normalised queries and corpus."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ c.T
    ids = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return ids, np.take_along_axis(sims, ids, axis=1), q, c


class AnnRetrieval(Workload):
    """One clustered corpus indexed by HNSW and IVF-PQ; each op sends a
    fixed-size batch of query vectors to both and ends when both have
    answered."""

    name = "ann_retrieval"
    #: JIT keeps shortening search over the first few requests
    warmup_ops = 7
    #: recall@10 each index must reach on every request
    MIN_RECALL = {"hnsw": 0.9, "ivfpq": 0.5}

    def prepare(self):
        s = self.scale
        self.corpus = inputs.clustered_vectors(self.seed, s.corpus, 0)
        self.corpus_path = os.path.join(self.workdir, "corpus.parquet")
        inputs.vector_frame(self.corpus).to_parquet(self.corpus_path, index=False)

    def build(self, tr):
        from replay_spark.ann import HNSWANN, IVFPQANN

        with tr.span("data.load"):
            # stays cached for the run, like the indexes built from it
            corpus = _materialize(self.spark.read.parquet(self.corpus_path))
        with tr.span("ann.build.hnsw"):
            self.hnsw = HNSWANN(
                M=16, ef_construction=100, ef_search=64, seed=self.seed
            ).fit(corpus)
        with tr.span("ann.build.ivfpq"):
            self.ivfpq = IVFPQANN(
                dim=inputs.VEC_DIM, num_cells=16, nprobe=4, m=8, ksub=16,
                seed=self.seed,
            ).fit(corpus)

    def before_op(self, i):
        s = self.scale
        vecs = inputs.clustered_vectors(self.seed, s.queries, 1000 + i)
        self._query = (vecs, inputs.vector_frame(vecs))

    def op(self, i, tr):
        vecs, pdf = self._query
        with tr.span("data.load"):
            queries = self.spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
        with tr.span("ann.search.hnsw"):
            hnsw = self.hnsw.search(queries, k=K).toPandas()
        with tr.span("ann.search.ivfpq"):
            ivfpq = self.ivfpq.search(queries, k=K).toPandas()
        return Answer(rows=len(vecs), payload={"vecs": vecs, "hnsw": hnsw, "ivfpq": ivfpq})

    def check(self, i, ans):
        vecs = ans.payload["vecs"]
        truth, _, q, c = exact_cosine_top_k(self.corpus, vecs)
        ok, recalls = True, {}
        for name in ("hnsw", "ivfpq"):
            got = ans.payload[name]
            score_col = "cosine" if "cosine" in got.columns else "score"
            hits = 0
            for qi in range(len(vecs)):
                mine = got[got["query_id"] == qi].sort_values("rank")
                ids = mine["neighbor_id"].to_numpy()
                exact = np.einsum("d,nd->n", q[qi], c[ids])
                ok = ok and len(ids) == K and len(set(ids)) == K
                ok = ok and np.allclose(mine[score_col].to_numpy(), exact, atol=1e-6)
                hits += len(set(ids) & set(truth[qi]))
            recalls[name] = hits / (K * len(vecs))
            ok = ok and recalls[name] >= self.MIN_RECALL[name]
        return bool(ok), float(np.mean(list(recalls.values()))), {"recall": recalls}


WORKLOADS = {w.name: w for w in (OfflineEval, IngestRefresh, AnnRetrieval)}
