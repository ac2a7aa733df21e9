"""The two workloads. Each is one closed-loop client on one Spark session:
set up, warm up, run the timed cycles of calls, then check every answer
against an independent reference.

serve    a positional index built with build_index and opened with
         load_index, queried with a seeded mix of topk_wand, topk_match
         (operator="and"), topk_bool, topk_phrase and topk_batch calls;
         then the curation calls (MinHash-LSH dedup, embedding
         near-duplicate pairs, cosine top-k) over planted duplicates.
refresh  an IncrementalIndexer workdir under alternating upserts (new and
         re-crawled urls) and deletes, each followed by compact() and live
         topk_wand queries.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from perfbench import inputs
from perfbench.inputs import K
from perfbench.spans import QUERY_SPANS, Tracer
from webindex.pagesgen import generate_pages_df
from webindex.schema import PAGES
from webindex.textproc import extract_text, tokenize

# sizes, chosen so that a run of either workload ends within about a minute
# on 4 cores (see perfbench/README.md)
SERVE_PAGES = 1500
REFRESH_BASE_PAGES = 600
REFRESH_NEW, REFRESH_RECRAWL, REFRESH_DELETE = 40, 20, 20
LIVE_QUERIES = 16  # plus one absent-term query per refresh
CURATE_DOCS, CURATE_DUP_PAIRS, CURATE_HOT = 500, 20, 80
EMB_N, EMB_DIM, EMB_PAIRS, EMB_HOT = 400, 32, 20, 30
NEARDUP_THRESHOLD = 0.95
COSINE_QUERIES = 2
WARM_ROWS = 50
# nominal cycle times on 4 cores: --seconds sets the number of whole cycles,
# so a run's call mix never depends on how fast the machine is that minute
SERVE_CYCLE_S, REFRESH_CYCLE_S = 4.0, 16.0


def cycles(seconds: float, cycle_s: float) -> int:
    return max(1, round(seconds / cycle_s))


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: Path
    seed: int
    seconds: float
    rng: np.random.Generator = None
    calls: list = field(default_factory=list)  # (kind, latency_s, ok)
    setup_s: float = 0.0
    notes: dict = field(default_factory=dict)

    def call(self, kind: str, span: str, fn):
        """Time one public engine call (its result fully consumed)."""
        with self.tracer.span(span) as rec:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            if rec is not None and isinstance(out, list):
                rec["rows"] = len(out)
        self.calls.append([kind, dt, True])
        return out, len(self.calls) - 1

    def fail(self, i: int) -> None:
        self.calls[i][2] = False

    def latencies(self, *kinds: str) -> list[float]:
        return [dt for k, dt, ok in self.calls if k in kinds and ok]


def _hits(df) -> list[tuple[int, float]]:
    return sorted(
        ((int(r["doc_id"]), float(r["score"])) for r in df.collect()),
        key=lambda h: (-h[1], h[0]),
    )


def same_hits(got, want, tol: float = 1e-6) -> bool:
    """Equal top-k: same scores position by position, and the same doc ids
    within each group of tied scores (a tie cut by k only needs equal
    scores)."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i
        while j + 1 < len(want) and abs(want[j + 1][1] - want[i][1]) <= 1e-9:
            j += 1
        cut = j == len(want) - 1 and len(want) == K
        if not cut and {d for d, _ in got[i : j + 1]} != {d for d, _ in want[i : j + 1]}:
            return False
        i = j + 1
    return True


# -- single-query calls ------------------------------------------------------



def run_query(idx, op: str, a: dict):
    from webindex import query as q

    if op == "wand":
        return _hits(q.topk_wand(idx, a["query"], k=K))
    if op == "match_and":
        return _hits(q.topk_match(idx, a["query"], k=K, operator="and"))
    if op == "bool":
        return _hits(q.topk_bool(idx, must=a["must"], should=a["should"], must_not=a["must_not"], k=K))
    return _hits(q.topk_phrase(idx, a["phrase"], k=K))


def expected(oracle, op: str, a: dict):
    if op == "wand":
        return oracle.topk(a["query"], K)
    if op == "match_and":
        n = len(set(tokenize(a["query"])))
        return oracle.topk_match(a["query"], K, minimum_should_match=n)
    if op == "bool":
        return oracle.topk_bool(must=a["must"], should=a["should"], must_not=a["must_not"], k=K)
    return oracle.topk_phrase(a["phrase"], K)


def theta_seed_fires(oracle, query: str) -> bool:
    """Whether topk_wand's cost gate would run the θ-seed jobs for this
    query (summed df of present terms over THETA_SEED_MIN_BLOCKS blocks,
    rarest term with more than k docs)."""
    from webindex.query import THETA_SEED_MIN_BLOCKS

    dfs = [oracle.df(t) for t in set(tokenize(query)) if oracle.df(t)]
    return bool(dfs) and min(dfs) > K and sum(dfs) / oracle.conf.block_size >= THETA_SEED_MIN_BLOCKS


# -- curation (run by serve) -------------------------------------------------


class Curate:
    """Seeded documents and embeddings with planted duplicates, the
    curation calls over them, and their checks."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        spark, rng = ctx.spark, ctx.rng
        docs, self.dup_pairs, self.hot_docs = inputs.curate_docs(
            rng, ctx.seed, CURATE_DOCS, CURATE_DUP_PAIRS, CURATE_HOT
        )
        self.vecs, self.vec_pairs = inputs.embeddings(rng, EMB_N, EMB_DIM, EMB_PAIRS, EMB_HOT)
        self.docs = spark.createDataFrame(docs)
        self.vec_df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(self.vecs)], "vec_id long, embedding array<double>"
        )

    def dedup(self, docs):
        from webindex.dedup import lsh_candidate_pairs, minhash_signatures

        return lsh_candidate_pairs(minhash_signatures(docs)).collect()

    def neardup(self, vecs):
        from webindex.simsearch import all_pairs_above

        return all_pairs_above(vecs, NEARDUP_THRESHOLD, n_bands=4).collect()

    def cosine(self, vecs, qv):
        from webindex.simsearch import cosine_topk_bruteforce

        return cosine_topk_bruteforce(vecs, qv.tolist(), k=K).collect()

    def warmup(self) -> None:
        """The first call of each kind pays a one-off cost (code generation,
        Python-worker imports) whatever its input size, so a small slice
        warms it."""
        span = self.ctx.tracer.span
        with span("warmup.dedup"):
            self.dedup(self.docs.limit(WARM_ROWS))
        with span("warmup.neardup"):
            self.neardup(self.vec_df.limit(WARM_ROWS))
        with span("warmup.cosine"):
            self.cosine(self.vec_df.limit(WARM_ROWS), self.vecs[0])

    def run(self) -> None:
        ctx = self.ctx
        self.pairs, self.i_dedup = ctx.call("dedup", "dedup.lsh_candidate_pairs", lambda: self.dedup(self.docs))
        self.near, self.i_near = ctx.call(
            "neardup", "simsearch.all_pairs_above", lambda: self.neardup(self.vec_df)
        )
        self.cos_done = []
        for _ in range(COSINE_QUERIES):
            qv = self.vecs[int(ctx.rng.integers(len(self.vecs)))] + ctx.rng.normal(scale=0.5, size=EMB_DIM)
            got, i = ctx.call("cosine", "simsearch.cosine_topk_bruteforce", lambda: self.cosine(self.vec_df, qv))
            self.cos_done.append((i, qv, got))

    def check(self) -> None:
        """Planted pairs found; near-dup cosines and cosine top-k equal a
        numpy brute force."""
        ctx, vecs = self.ctx, self.vecs
        got_pairs = {(int(r["a"]), int(r["b"])) for r in self.pairs}
        hot_pairs = {(a, b) for a in self.hot_docs for b in self.hot_docs if a < b}
        if not (self.dup_pairs | hot_pairs) <= got_pairs:
            ctx.fail(self.i_dedup)
        norms = np.linalg.norm(vecs, axis=1)
        ok = self.vec_pairs <= {(int(r["a"]), int(r["b"])) for r in self.near}
        for r in self.near:
            a, b = int(r["a"]), int(r["b"])
            cos = float(vecs[a] @ vecs[b] / (norms[a] * norms[b]))
            ok &= abs(cos - float(r["cos"])) < 1e-9 and cos >= NEARDUP_THRESHOLD - 1e-9
        if not ok:
            ctx.fail(self.i_near)
        for i, qv, got in self.cos_done:
            cos = vecs @ qv / (norms * np.linalg.norm(qv))
            want = [(int(j), float(cos[j])) for j in np.lexsort((np.arange(len(cos)), -cos))[:K]]
            if not same_hits([(int(r["vec_id"]), float(r["cos"])) for r in got], want, tol=1e-9):
                ctx.fail(i)
        ctx.notes.update(candidate_pairs=len(got_pairs), neardup_pairs=len(self.near))


# -- serve -------------------------------------------------------------------


def serve(ctx: Ctx) -> dict:
    from webindex.build import build_index, load_index
    from webindex.oracle import OracleIndex
    from webindex.query import topk_batch

    spark, rng = ctx.spark, ctx.rng
    t_setup = time.perf_counter()
    with ctx.tracer.span("build.build_index"):
        t0 = time.perf_counter()
        build_index(
            spark, generate_pages_df(spark, SERVE_PAGES, seed=ctx.seed),
            out_dir=str(ctx.work / "index"), positions=True,
        )
        build_s = time.perf_counter() - t0
    with ctx.tracer.span("build.load_index"):
        idx = load_index(spark, str(ctx.work / "index"))
    curate = Curate(ctx)
    pdf = inputs.pages_pdf(range(SERVE_PAGES), ctx.seed)  # the same pages, driver-side
    texts = pdf["text"].tolist()
    with ctx.tracer.span("warmup"):
        # the first query pays the query path's one-off cost, and the first
        # empty result the empty path's; the other single-query kinds run
        # at their steady latency right after these
        with ctx.tracer.span("warmup.wand"):
            run_query(idx, "wand", {"query": "the data spark"})
            run_query(idx, "wand", {"query": inputs.absent(np.random.default_rng(0))})
        with ctx.tracer.span("warmup.batch"):
            topk_batch(idx, {"a": "the w150", "b": "data"}, k=K).collect()
        curate.warmup()
    ctx.setup_s = time.perf_counter() - t_setup

    # the timed part: cycles of 7 single queries and one batch, then one
    # curation pass
    done: list[tuple] = []  # (call index, op, args, hits)
    t_loop = time.perf_counter()
    for j in range(8 * cycles(ctx.seconds, SERVE_CYCLE_S)):
        if j % 8 == 7:
            log = inputs.batch_log(rng)
            rows, i = ctx.call("batch", QUERY_SPANS["batch"], lambda: topk_batch(idx, log, k=K).collect())
            done.append((i, "batch", log, rows))
        else:
            op, a = inputs.query_op(rng, texts, j)
            hits, i = ctx.call(op, QUERY_SPANS[op], lambda: run_query(idx, op, a))
            done.append((i, op, a, hits))
    curate.run()
    loop_s = time.perf_counter() - t_loop

    # check every answer against the pure-Python oracle of the same corpus
    oracle = OracleIndex({inputs.doc_id(u): extract_text(h) for u, h in zip(pdf["url"], pdf["html"])})
    for i, op, a, got in done:
        if op == "batch":
            per_q: dict[str, list] = {}
            for r in got:
                per_q.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
            ok = all(
                same_hits(sorted(per_q.get(qid, []), key=lambda h: (-h[1], h[0])), oracle.topk(qs, K))
                for qid, qs in a.items()
            )
        else:
            ok = same_hits(got, expected(oracle, op, a))
        if not ok:
            ctx.fail(i)
    curate.check()
    batch_queries = sum(len(a) for _, op, a, _ in done if op == "batch")
    ctx.notes.update(
        index_dir=ctx.work / "index",
        input_bytes=float(sum(len(h) for h in pdf["html"])),
        html=pdf["html"].tolist(),
        batch_queries=batch_queries,
        loop_s=loop_s,
        build_docs_per_s=SERVE_PAGES / build_s,
        batch_qps=batch_queries / sum(ctx.latencies("batch")) if ctx.latencies("batch") else 0.0,
        theta_seed_calls=sum(
            1 for _, op, a, _ in done if op == "wand" and theta_seed_fires(oracle, a["query"])
        ),
        oracle=oracle,
    )
    return ctx.notes


# -- refresh -----------------------------------------------------------------


def refresh(ctx: Ctx) -> dict:
    from webindex.oracle import OracleIndex
    from webindex.query import topk_wand
    from webindex.streaming import IncrementalIndexer

    spark, rng = ctx.spark, ctx.rng
    t_setup = time.perf_counter()
    indexer = IncrementalIndexer(spark, str(ctx.work / "inc"))
    with ctx.tracer.span("streaming.upsert"):
        indexer.upsert(generate_pages_df(spark, REFRESH_BASE_PAGES, seed=ctx.seed))
    with ctx.tracer.span("warmup"):
        base_idx = indexer.compact()
        for q in ("the data", inputs.absent(np.random.default_rng(0))):
            topk_wand(base_idx, q, k=K).collect()
    ctx.setup_s = time.perf_counter() - t_setup

    base = inputs.pages_pdf(range(REFRESH_BASE_PAGES), ctx.seed)  # the same pages, driver-side
    n_cycles = cycles(ctx.seconds, REFRESH_CYCLE_S)
    events = inputs.refresh_events(
        rng, ctx.seed, REFRESH_BASE_PAGES, n_cycles, REFRESH_NEW, REFRESH_RECRAWL, REFRESH_DELETE
    )
    corpus = dict(zip(base["url"], base["html"]))  # live url -> html
    snapshots = [dict(corpus)]  # the corpus each index state holds
    done, refreshes = [], []  # (call, snapshot, query, hits); refresh calls
    idx = base_idx

    def live_queries(queries):
        for qs in queries:
            hits, i = ctx.call("live_query", QUERY_SPANS["wand"], lambda: _hits(topk_wand(idx, qs, k=K)))
            done.append((i, len(snapshots) - 1, qs, hits))

    # live queries before and after each refresh, so they are spread over
    # the whole timed part rather than one stretch of it
    half = LIVE_QUERIES // 2
    t_loop = time.perf_counter()
    for ids, cseed, gone in events:
        live_queries([inputs.wand_query(rng, 1 + q % 4) for q in range(half)])
        pdf = inputs.pages_pdf(ids, cseed)
        df = spark.createDataFrame(pdf, schema=PAGES)
        urls = [inputs.url(i) for i in gone]

        def event():
            with ctx.tracer.span("streaming.upsert"):
                indexer.upsert(df, compact_now=False)
            with ctx.tracer.span("streaming.delete"):
                indexer.delete(urls, compact_now=False)
            with ctx.tracer.span("streaming.compact"):
                return indexer.compact()

        corpus.update(zip(pdf["url"], pdf["html"]))
        for u in urls:
            del corpus[u]
        idx, i = ctx.call("refresh", "refresh", event)
        refreshes.append(i)
        snapshots.append(dict(corpus))
        live_queries([inputs.wand_query(rng, 1 + q % 4) for q in range(half, LIVE_QUERIES)] + [inputs.absent(rng)])

    loop_s = time.perf_counter() - t_loop

    # -- checks --------------------------------------------------------------
    oracles = [OracleIndex({inputs.doc_id(u): extract_text(h) for u, h in snap.items()}) for snap in snapshots]
    for i, snap, qs, got in done:
        if not same_hits(got, oracles[snap].topk(qs, K)):
            ctx.fail(i)
    # the final live index equals the batch view of the final corpus:
    # corpus stats and every term's df
    final, last = oracles[-1], refreshes[-1]
    dfs = {r["term"]: int(r["df"]) for r in idx.term_stats.select("term", "df").collect()}
    if (
        idx.n_docs != final.n_docs
        or abs(idx.avgdl - final.avgdl) > 1e-9
        or dfs != {t: len(p) for t, p in final.postings.items()}
    ):
        ctx.fail(last)

    comp = spark.read.parquet(str(ctx.work / "inc" / "compactions")).filter("kind = 'incremental'").collect()
    n_buckets = len(list((ctx.work / "inc" / "index" / "postings").glob("bucket=*")))
    ctx.notes.update(
        index_dir=ctx.work / "inc" / "index",
        input_bytes=float(sum(len(h) for h in corpus.values())),
        html=list(corpus.values()),
        loop_s=loop_s,
        touched_bucket_frac=statistics.mean(r["touched_buckets"] / max(1, n_buckets) for r in comp) if comp else 0.0,
        decoded_rows_per_delta_row=(
            sum(r["decoded_old_rows"] for r in comp) / max(1, sum(r["delta_rows"] for r in comp))
        ),
        oracle=final,
    )
    return ctx.notes


WORKLOADS = {"serve": serve, "refresh": refresh}
