"""The benchmark workloads.

Each runs closed-loop from one client: the next engine call is made only
after the previous one's result has been forced (collected or written) and
checked against an oracle outside the engine. Each returns the end-to-end
metrics every workload shares (see README.md for how the workload-specific
quantities feed them) plus a ``detail`` dict of those quantities.

Sizes are fixed per workload. On a 4-core host a run takes 40-80 s, Spark
start included, most of it fixed per-call overhead; README.md has the
measured cost model behind the sizes.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import uuid
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from neighborly_spark.operators.dedup import (
    dedup_survivors_from_pairs,
    exact_dedup,
    minhash_lsh_pairs,
)
from neighborly_spark.operators.dedup_store import DedupStore
from neighborly_spark.operators.hnsw import (
    hnsw_build,
    hnsw_routing_table,
    hnsw_search_batch_snapshot,
    hnsw_snapshot_write,
)
from neighborly_spark.operators.ivf import CLUSTER_COL
from neighborly_spark.operators.ivfpq import (
    ivfpq_encode,
    ivfpq_knn_join_snapshot,
    ivfpq_train,
)
from neighborly_spark.plans.knn_planner import knn_join_auto
from neighborly_spark.search_service import SearchService

K = 10
DIM = gen.DIM
#: id ranges of the generated order tables, disjoint so that a query or an
#: added row can never collide with a base row
QUERY_BASE = 10_000_000
ADD_BASE = 20_000_000


@dataclass
class Ctx:
    spark: object
    rec: object  # spans.SpanRecorder
    seed: int
    nproc: int
    work: str
    attempted: int = 0
    failed: int = 0
    #: "read" / "write" -> summed seconds and items of the measured phase
    #: (another side, such as "warm-up", counts in no metric)
    seconds_by_side: dict = field(default_factory=lambda: defaultdict(float))
    items_by_side: dict = field(default_factory=lambda: defaultdict(int))

    def timed(self, name: str, fn, side: str, items: int = 0):
        """Run one engine operation inside a span and charge its time and
        items to ``side``; returns (result, seconds). An exception is not a
        failed check: it aborts the run."""
        with self.rec.span(name) as counts:
            t0 = time.perf_counter()
            out = fn(counts)
            dt = time.perf_counter() - t0
        self.attempted += 1
        self.seconds_by_side[side] += dt
        self.items_by_side[side] += items
        return out, dt

    def end_to_end(self, setup_s: list[float], quality: float, bytes_ratio: float) -> dict:
        """The metrics every workload reports (see README.md)."""
        return {
            "setup_s": statistics.median(setup_s),
            "read_rate": self.items_by_side["read"] / self.seconds_by_side["read"],
            "write_s": self.seconds_by_side["write"],
            "quality": quality,
            "bytes_ratio": bytes_ratio,
        }

    def verify(self, what: str, problems: list[str]) -> None:
        """Count a failed check as a failed operation, never drop it."""
        if problems:
            self.failed += 1
            print(f"CHECK FAILED {what}: {len(problems)} problems, e.g. {problems[:3]}", file=sys.stderr)


def du(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def cached(df):
    df = df.cache()
    df.count()
    return df


def _vector_oracle(df) -> checks.VectorOracle:
    return checks.VectorOracle.from_rows(df.select("id", "embedding").collect())


# --- vector_index ---------------------------------------------------------

#: snapshot-serving phase: operator-level index set-up, then query rounds
SERVE = dict(rows=1000, shards=4, nlist=16, m=8, centroids=64, batch=400, exact_batch=80,
             rounds=2, setups=2, nprobe=4, ef=64, probe_shards=2, salt=2)
#: churn phase through the SearchService facade on its own smaller table
CHURN = dict(rows=300, add=20, remove=20, queries=60, pool=1000)
CHURN_METHODS = ("sq", "ivfpq", "hnsw")


def vector_index(ctx: Ctx) -> dict:
    """Vector-index workload in two phases: snapshot serving (query
    batches through the ivfpq and hnsw snapshot tiers and the exact
    planner tier over operator-built indexes), then churn through the
    SearchService facade (build, add, remove, search, save, load)."""
    serve = _serve_phase(ctx)
    churn = _churn_phase(ctx)
    recall = {**serve["recall"], **churn["recall"]}
    out = ctx.end_to_end(serve["setup_s"], statistics.fmean(recall.values()), churn["bytes_ratio"])
    out["detail"] = {
        **serve["detail"],
        **churn["detail"],
        **{f"{k}_recall_at_10": v for k, v in recall.items()},
    }
    return out


def _serve_phase(ctx: Ctx) -> dict:
    spark, rec, P = ctx.spark, ctx.rec, SERVE
    setup_s, build_s = [], []
    keep: list = []
    for rep in range(P["setups"]):
        for df in keep:
            df.unpersist()
        d = f"{ctx.work}/serve{rep}"
        t0 = time.perf_counter()
        with rec.span("setup"):
            with rec.span("embedding.vector_table"):
                vec = cached(gen.orders_vectors(spark, 0, P["rows"], ctx.nproc))
            t1 = time.perf_counter()
            with rec.span("ivfpq.train"):
                model = ivfpq_train(vec, DIM, nlist=P["nlist"], m=P["m"], num_centroids=P["centroids"])
            with rec.span("ivfpq.encode") as c:
                ivfpq_encode(vec, model).write.partitionBy(CLUSTER_COL).parquet(f"{d}/codes")
            with rec.span("hnsw.build"):
                graph = cached(hnsw_build(vec, DIM, num_partitions=P["shards"], spatial=True))
            with rec.span("hnsw.routing_table"):
                routing = cached(hnsw_routing_table(graph))
            with rec.span("hnsw.snapshot_write") as c2:
                hnsw_snapshot_write(graph, f"{d}/graph")
            build_s.append(time.perf_counter() - t1)
            part_ids = sorted(r[0] for r in graph.select("part_id").distinct().collect())
        setup_s.append(time.perf_counter() - t0)
        c["bytes_written"] = du(f"{d}/codes")
        c2["bytes_written"] = du(f"{d}/graph")
        graph.unpersist()
        keep = [vec, routing]
    codes_path, graph_path, version = f"{d}/codes", f"{d}/graph", uuid.uuid4().hex

    oracle = _vector_oracle(vec)
    n_pool = (P["rounds"] + 1) * (P["batch"] + P["exact_batch"])
    pool = cached(gen.as_queries(gen.orders_vectors(spark, QUERY_BASE, n_pool, ctx.nproc)))
    qvec = {int(r[0]): np.asarray(r[1]) for r in pool.collect()}
    cuts = gen.seeded_cuts(pool, "query_id", ctx.seed, [P["batch"], P["exact_batch"]] * (P["rounds"] + 1))

    recall, qps, strategies = defaultdict(list), defaultdict(list), set()
    # round 0 fills the per-worker snapshot caches: it is checked but not
    # counted. The number of rounds is fixed, not timed: read_rate mixes
    # these tiers with the facade searches, and a varying round count would
    # change the mix.
    for r in range(P["rounds"] + 1):
        side = "read" if r else "warm-up"
        (pred, ids), (epred, eids) = cuts[2 * r], cuts[2 * r + 1]
        q, qe = pool.filter(pred), pool.filter(epred)
        qx, ex = np.array([qvec[i] for i in ids]), np.array([qvec[i] for i in eids])

        rows, dt = ctx.timed("ivfpq.knn_join_snapshot", lambda c: ivfpq_knn_join_snapshot(
            spark, codes_path, model, q, K, version=version, nprobe=P["nprobe"], df=vec,
            query_salt=P["salt"]).collect(), side, len(ids))
        problems, rc = checks.check_knn(checks.group_results(rows), ids, qx, oracle, K, exact=False)
        ctx.verify("ivfpq.knn_join_snapshot", problems)
        recall["ivfpq"].append(rc)
        if r:
            qps["ivfpq"].append(len(ids) / dt)

        rows, dt = ctx.timed("hnsw.search_batch_snapshot", lambda c: hnsw_search_batch_snapshot(
            spark, graph_path, part_ids, q, K, version=version, ef=P["ef"],
            probe_shards=P["probe_shards"], routing=routing, query_salt=P["salt"]).collect(),
            side, len(ids))
        problems, rc = checks.check_knn(checks.group_results(rows), ids, qx, oracle, K, exact=False)
        ctx.verify("hnsw.search_batch_snapshot", problems)
        recall["hnsw"].append(rc)
        if r:
            qps["hnsw"].append(len(ids) / dt)

        def exact(c):
            out, plan = knn_join_auto(vec, qe, K, DIM, data_count=P["rows"], query_count=len(eids))
            strategies.add(plan.strategy)
            return out.collect()

        rows, dt = ctx.timed("knn.join_auto", exact, side, len(eids))
        problems, _ = checks.check_knn(checks.group_results(rows), eids, ex, oracle, K, exact=True)
        ctx.verify("knn.join_auto", problems)
        if r:
            qps["exact"].append(len(eids) / dt)

    for df in keep + [pool]:
        df.unpersist()
    return {
        "setup_s": setup_s,
        "recall": {kind: statistics.fmean(v) for kind, v in recall.items()},
        "detail": {
            **{f"{kind}_qps": statistics.median(v) for kind, v in qps.items()},
            "serve_exact_strategy": sorted(strategies),
            "serve_setup_s_all": setup_s,
            "serve_index_build_s": statistics.median(build_s),
            "snapshot_bytes_per_vector_byte":
                (du(codes_path) + du(graph_path)) / (P["rows"] * DIM * 4),
        },
    }


def _churn_phase(ctx: Ctx) -> dict:
    spark, P = ctx.spark, CHURN
    base = cached(gen.orders_vectors(spark, 0, P["rows"], ctx.nproc))
    svc = SearchService(base, DIM)
    build_s = 0.0
    for m in CHURN_METHODS:
        _, dt = ctx.timed(f"search_service.build_index.{m}", lambda c: svc.build_index(m), "write")
        build_s += dt

    base_oracle = _vector_oracle(base)
    add_pool = cached(gen.orders_vectors(spark, ADD_BASE, P["pool"], ctx.nproc))
    add_oracle = _vector_oracle(add_pool)
    q_pool = cached(gen.as_queries(gen.orders_vectors(spark, QUERY_BASE, P["pool"], ctx.nproc)))
    q_oracle = checks.VectorOracle.from_rows(q_pool.collect())
    (apred, added), = gen.seeded_cuts(add_pool, "id", ctx.seed, [P["add"]])
    (rpred, dropped), = gen.seeded_cuts(base, "id", ctx.seed, [P["remove"]])
    (qpred, sampled), = gen.seeded_cuts(q_pool, "query_id", ctx.seed,
                                         [P["queries"] - P["add"] - P["remove"]])

    new_rows = add_pool.filter(apred)
    _, add_dt = ctx.timed("search_service.add_vectors", lambda c: svc.add_vectors(new_rows), "write")
    _, rm_dt = ctx.timed("search_service.remove_vectors", lambda c: svc.remove_vectors(dropped), "write")
    live = base_oracle.plus(add_oracle.only(added)).without(dropped)

    # the added and the removed vectors are themselves queries: each added
    # id must come back at distance 0, and no removed id may appear at all
    qdf = cached(
        gen.as_queries(new_rows)
        .unionByName(gen.as_queries(base.filter(rpred)))
        .unionByName(q_pool.filter(qpred))
    )
    qids = list(added) + list(dropped) + list(sampled)
    qx = np.concatenate([
        add_oracle.vectors(added), base_oracle.vectors(dropped), q_oracle.vectors(sampled)
    ])
    query_s, results, recall = 0.0, {}, {}
    for m in CHURN_METHODS:
        rows, dt = ctx.timed(f"search_service.search_batch.{m}",
                             lambda c: svc.search_batch(qdf, K, method=m).collect(), "read", len(qids))
        query_s += dt
        res = results[m] = checks.group_results(rows)
        problems, recall[f"service_{m}"] = checks.check_knn(res, qids, qx, live, K, exact=False)
        for a in added:
            if not res.get(a) or res[a][0][0] != a or res[a][0][1] > checks.DIST_TOL:
                problems.append(f"{m}: added id {a} not returned at distance 0")
        leaked = set(dropped) & {i for hits in res.values() for i, _ in hits}
        if leaked:
            problems.append(f"{m}: removed ids returned: {sorted(leaked)[:5]}")
        ctx.verify(f"search_batch.{m} after add/remove", problems)

    path = f"{ctx.work}/service"
    _, save_dt = ctx.timed("search_service.save", lambda c: svc.save(path), "write")
    saved_bytes = du(path)
    loaded, load_dt = ctx.timed("search_service.load", lambda c: SearchService.load(spark, path),
                                "write")
    for m in CHURN_METHODS:
        rows, _ = ctx.timed(f"search_service.loaded.search_batch.{m}",
                            lambda c: loaded.search_batch(qdf, K, method=m).collect(), "read", len(qids))
        ctx.verify(f"load then search_batch.{m}", _same_results(checks.group_results(rows), results[m]))

    bytes_ratio = saved_bytes / (len(live.ids) * DIM * 4)
    return {
        "recall": recall,
        "bytes_ratio": bytes_ratio,
        "detail": {
            "service_qps": len(qids) * len(CHURN_METHODS) / query_s,
            "index_build_s": build_s,
            "update_rows_per_s": (len(added) + len(dropped)) / (add_dt + rm_dt),
            "post_update_query_s": query_s,
            "save_load_s": save_dt + load_dt,
            "index_bytes_per_vector_byte": bytes_ratio,
        },
    }


def _same_results(got: dict, want: dict) -> list[str]:
    """Same ids per query, distances equal to 1e-9 relative."""
    problems = []
    for qid, hits in want.items():
        other = got.get(qid, [])
        if sorted(i for i, _ in other) != sorted(i for i, _ in hits) or not np.allclose(
            [d for _, d in other], [d for _, d in hits], rtol=1e-9, atol=1e-12
        ):
            problems.append(f"query {qid}: {other[:3]} != {hits[:3]}")
    return problems


# --- dedup_ingest ---------------------------------------------------------

DEDUP = dict(docs=4000, batches=4, threshold=0.5, setups=3)


def dedup_ingest(ctx: Ctx) -> dict:
    """LLM-data ingest: seeded daily batches checked against and added to
    an incremental DedupStore, then corpus-wide dedup."""
    spark, rec, P = ctx.spark, ctx.rec, DEDUP
    corpus = gen.documents(P["docs"])
    text = dict(zip(corpus["doc_id"].to_pylist(), corpus["text"].to_pylist()))
    src = f"{ctx.work}/documents.parquet"
    pq.write_table(corpus, src)
    per = P["docs"] // P["batches"]
    cuts = gen.seeded_cuts(spark.read.parquet(src), "doc_id", ctx.seed, [per] * P["batches"])

    setup_s = []
    for rep in range(P["setups"]):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with rec.span("setup"):
            docs = cached(spark.read.parquet(src).repartition(ctx.nproc))
            store_path = f"{ctx.work}/store{rep}"
            store = DedupStore.create(spark, store_path)
            # batch 0 is the history the store already holds
            with rec.span("dedup_store.add") as c:
                store.add(docs.filter(cuts[0][0]), ingest_id="day0")
        setup_s.append(time.perf_counter() - t0)
        c["bytes_written"] = du(store_path)

    seen = {checks.normalize(text[i]) for i in cuts[0][1]}
    stored_ids = set(cuts[0][1])
    ingest_s, ingested, compact_s = 0.0, 0, []
    for b in range(1, P["batches"]):
        pred, ids = cuts[b]
        batch = docs.filter(pred)
        new, dt = ctx.timed("dedup_store.filter_new",
                            lambda c: _checkpoint_rows(store.filter_new(batch)), "read", len(ids))
        new_df, new_rows = new
        ingest_s += dt
        want = {i for i in ids if checks.normalize(text[i]) not in seen}
        got = {int(r["doc_id"]) for r in new_rows}
        ctx.verify(f"filter_new batch {b}", [] if got == want else [f"new ids differ: {len(got)} vs {len(want)}"])

        near, dt = ctx.timed("dedup_store.neardup_matches",
                             lambda c: store.neardup_matches(new_df, threshold=P["threshold"]).collect(),
                             "read", len(got))
        ingest_s += dt
        ctx.verify(f"neardup_matches batch {b}", [
            f"bad match {m}" for m in near
            if int(m["doc_id"]) not in got or int(m["store_doc_id"]) not in stored_ids
            or m["est_jaccard"] < P["threshold"]
        ])

        before = du(store_path)

        def add(c):
            store.add(new_df, ingest_id=f"day{b}")
            c["bytes_written"] = du(store_path) - before

        _, dt = ctx.timed("dedup_store.add", add, "write")
        ingest_s += dt
        ingested += len(ids)
        stored_ids |= got
        seen |= {checks.normalize(text[i]) for i in ids}

        def compact(c):
            store.compact()
            c["bytes_rewritten"] = du(store_path)

        _, dt = ctx.timed("dedup_store.compact", compact, "write")
        compact_s.append(dt)

    # corpus-wide batch dedup over every document ingested above
    pairs, t_pairs = ctx.timed("dedup.minhash_lsh_pairs", lambda c: _checkpoint_rows(
        minhash_lsh_pairs(docs, threshold=P["threshold"], materialize=True, engine="python")),
        "read", P["docs"])
    pairs_df, pair_rows = pairs
    surv, t_surv = ctx.timed("dedup.survivors", lambda c: dedup_survivors_from_pairs(
        docs, pairs_df).select("doc_id").collect(), "read", P["docs"])
    exact, t_exact = ctx.timed("dedup.exact_dedup",
                               lambda c: exact_dedup(docs).select("doc_id").collect(), "read", P["docs"])

    oracle_pairs = checks.neardup_pairs(text, P["threshold"])
    got_pairs = {(int(r["id_a"]), int(r["id_b"])): float(r["jaccard"]) for r in pair_rows}
    ctx.verify("minhash_lsh_pairs", [
        f"pair {p}: jaccard {j} vs oracle {oracle_pairs.get(p)}"
        for p, j in got_pairs.items() if abs(oracle_pairs.get(p, -1.0) - j) > 1e-6
    ])
    pair_recall = len(set(got_pairs) & set(oracle_pairs)) / max(1, len(oracle_pairs))
    want_surv = checks.survivors_from_pairs(list(text), got_pairs)
    got_surv = {int(r[0]) for r in surv}
    ctx.verify("dedup_survivors_from_pairs", [] if got_surv == want_surv else [
        f"{len(got_surv ^ want_surv)} survivors differ from the union-find oracle"])
    got_exact = {int(r[0]) for r in exact}
    ctx.verify("exact_dedup", [] if got_exact == checks.exact_survivors(text) else [
        "exact_dedup survivors differ from the oracle"])
    # the incremental store's survivors (the first-seen doc of each text)
    # hold each text once, and the same texts as batch exact_dedup's
    # survivors (which keep the min id instead)
    matches, _ = ctx.timed("dedup_store.exact_matches",
                           lambda c: store.exact_matches(docs).collect(), "read", P["docs"])
    inc = [checks.normalize(text[i]) for i in {int(r["dup_of"]) for r in matches}]
    ctx.verify("incremental vs batch exact dedup", [] if (
        len(matches) == P["docs"] and len(inc) == len(set(inc))
        and set(inc) == {checks.normalize(text[i]) for i in got_exact}
    ) else ["incremental store survivors differ from batch exact_dedup"])

    corpus_s = t_pairs + t_surv + t_exact
    text_bytes = sum(len(t.encode()) for t in text.values())
    bytes_ratio = du(store_path) / text_bytes
    out = ctx.end_to_end(setup_s, pair_recall, bytes_ratio)
    out["detail"] = {
        "dedup_docs_per_s": ingested / ingest_s,
        "compact_s": compact_s,
        "corpus_dedup_s": corpus_s,
        "store_bytes_per_text_byte": bytes_ratio,
        "neardup_pairs_oracle": len(oracle_pairs),
        "neardup_pair_recall": pair_recall,
        "setup_s_all": setup_s,
    }
    return out


def _checkpoint_rows(df):
    """Materialize ``df`` once (so later calls reuse it, not recompute it)
    and collect its rows."""
    df = df.localCheckpoint()
    return df, df.collect()


WORKLOADS = {"vector_index": vector_index, "dedup_ingest": dedup_ingest}
