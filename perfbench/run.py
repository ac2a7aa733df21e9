"""webindex benchmark: one workload per run, one closed-loop client on a
local[4] Spark session.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones read
from spans and Spark's event log. Lines before it list the workload's named
numbers with unit and better-direction. Scratch files go under .perfbench/
in the repository root; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
from perfbench.spans import QUERY_SPANS  # noqa: E402  (no engine import)
CORES = 4

# name -> (unit, better); the end-to-end metrics, every one measured on both
# workloads
END_TO_END = {
    "setup_s": ("s", "lower"),
    "query_p50_s": ("s", "lower"),
    "calls_per_s": ("1/s", "higher"),
    "index_bytes_per_input_byte": ("ratio", "lower"),
}


def host_driver_mem() -> str:
    """A quarter of the host's RAM, at most 4 GiB: the run's data is small
    and the machine is shared."""
    kib = 4 << 20
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    break
    except OSError:
        pass
    return f"{max(512, min(4096, kib // 4 // 1024))}m"


def start_session(work: Path, trace: bool):
    """A local[4] session whose Python workers import webindex from this
    checkout, with every scratch path inside it. The JVM inherits the
    environment, so it is set before launch."""
    from webindex.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    extra = {
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "events").mkdir()
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app="webindex-perfbench", master=f"local[{CORES}]",
        driver_mem=host_driver_mem(), extra=extra,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parquet_files(path: Path) -> int:
    return len(list(path.rglob("*.parquet"))) if path.exists() else 0


def index_bytes(index_dir: Path) -> int:
    """Bytes of the index tables (the build's `runs` scratch excluded)."""
    return sum(
        p.stat().st_size
        for d in index_dir.iterdir()
        if d.is_dir() and d.name != "runs"
        for p in d.rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    )


def end_to_end(ctx, notes: dict) -> dict:
    ok_calls = [c for c in ctx.calls if c[2]]
    queries = ctx.latencies("wand", "match_and", "bool", "phrase", "live_query")
    return {
        "setup_s": ctx.setup_s,
        "query_p50_s": statistics.median(queries),
        "calls_per_s": len(ok_calls) / notes["loop_s"],
        "index_bytes_per_input_byte": index_bytes(notes["index_dir"]) / notes["input_bytes"],
    }


def named_numbers(ctx, notes: dict) -> list[tuple[str, float, str, str, int]]:
    """The workload's own numbers, printed for people: (name, value, unit,
    better, samples), for the call kinds the workload made."""
    rows = []

    def p50(name, *kinds):
        xs = ctx.latencies(*kinds)
        if xs:
            rows.append((name, statistics.median(xs), "s", "lower", len(xs)))

    singles = ctx.latencies("wand", "match_and", "bool", "phrase")
    if len(singles) > 1:
        p90 = statistics.quantiles(singles, n=10, method="inclusive")[-1]
        rows.append(("query_p90_s", p90, "s", "lower", len(singles)))
    for op in ("wand", "match_and", "bool", "phrase"):
        p50(f"{op}_p50_s", op)
    if ctx.latencies("batch"):
        rows.append(("batch_qps", notes["batch_qps"], "1/s", "higher", len(ctx.latencies("batch"))))
    if "build_docs_per_s" in notes:
        rows.append(("build_docs_per_s", notes["build_docs_per_s"], "1/s", "higher", 1))
    p50("refresh_p50_s", "refresh")
    p50("live_query_p50_s", "live_query")
    p50("dedup_pairs_s", "dedup")
    p50("neardup_pairs_s", "neardup")
    p50("cosine_topk_p50_s", "cosine")
    return rows


# -- per-layer metrics -------------------------------------------------------

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "textproc.tokens_per_s": ("1/s", "higher"),
    "codec.encode_postings_per_s": ("1/s", "higher"),
    "codec.decode_postings_per_s": ("1/s", "higher"),
    "codec.bytes_per_posting": ("B", "lower"),
    "build.jobs": ("count", "lower"),
    "build.stages": ("count", "lower"),
    "build.tasks": ("count", "lower"),
    "build.shuffle_write_bytes": ("B", "lower"),
    "build.spill_bytes": ("B", "lower"),
    "build.core_busy_frac": ("frac", "higher"),
    "build.driver_gap_frac": ("frac", "lower"),
    "io.postings_files": ("count", "lower"),
    "io.dict_files": ("count", "lower"),
    "io.index_bytes": ("B", "lower"),
    **{
        f"query.{op}.{what}": ("count", "lower")
        for op in QUERY_SPANS
        for what in ("jobs", "stages", "tasks")
    },
    "query.wand_p50_s": ("s", "lower"),
    "query.dict_probe_s": ("s", "lower"),
    "query.score_s": ("s", "lower"),
    "query.driver_gap_s": ("s", "lower"),
    "query.empty_s": ("s", "lower"),
    "query.theta_seed_calls": ("count", "lower"),
    "query.postings_bytes_read": ("B", "lower"),
    "query.batch.jobs_per_query": ("count", "lower"),
    "query.core_busy_frac": ("frac", "higher"),
    "streaming.ingest_frac": ("frac", "lower"),
    "streaming.compact_frac": ("frac", "lower"),
    "streaming.jobs_per_refresh": ("count", "lower"),
    "streaming.shuffle_write_bytes": ("B", "lower"),
    "streaming.touched_bucket_frac": ("frac", "lower"),
    "streaming.decoded_rows_per_delta_row": ("ratio", "lower"),
    "dedup.wall_frac": ("frac", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.shuffle_write_bytes": ("B", "lower"),
    "dedup.spill_bytes": ("B", "lower"),
    "simsearch.cosine_frac": ("frac", "lower"),
    "simsearch.neardup_frac": ("frac", "lower"),
    "simsearch.neardup_pairs": ("count", "lower"),
    "trace.spans": ("count", "lower"),
    "trace.query_p50_s": ("s", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def microbench(notes: dict) -> dict:
    """Direct calls into textproc and codec (the Python-UDF kernels), on the
    run's own corpus: tokens/s of extract_and_tokenize, postings/s of
    encode_blocks and decode_blocks_concat, encoded bytes per posting."""
    import numpy as np

    from webindex import codec
    from webindex.textproc import extract_and_tokenize

    oracle = notes["oracle"]
    conf = oracle.conf
    html = notes["html"][:1000]
    tok_rates, enc_rates, dec_rates = [], [], []
    lists = [
        (
            np.array([d for d, _ in p], dtype=np.int64),
            np.array([tf for _, tf in p], dtype=np.int64),
            np.array([oracle.doc_lens[d] for d, _ in p], dtype=np.int64),
        )
        for p in oracle.postings.values()
    ]
    n_post = sum(len(ids) for ids, _, _ in lists)
    for _ in range(3):
        t0 = time.perf_counter()
        n_tok = sum(len(extract_and_tokenize(h)) for h in html)
        tok_rates.append(n_tok / (time.perf_counter() - t0))
        t0 = time.perf_counter()
        blocks = []
        for ids, tfs, dls in lists:
            blocks.extend(codec.encode_blocks(ids, tfs, dls, oracle.avgdl, conf.k1, conf.b, conf.block_size))
        enc_rates.append(n_post / (time.perf_counter() - t0))
        t0 = time.perf_counter()
        ids, _, _, _ = codec.decode_blocks_concat(
            [b["doc_ids"] for b in blocks], [b["tfs"] for b in blocks],
            [b["doc_lens"] for b in blocks], [b["n_docs"] for b in blocks],
        )
        dec_rates.append(len(ids) / (time.perf_counter() - t0))
    nbytes = sum(len(b["doc_ids"]) + len(b["tfs"]) + len(b["doc_lens"]) for b in blocks)
    return {
        "textproc.tokens_per_s": _median(tok_rates),
        "codec.encode_postings_per_s": _median(enc_rates),
        "codec.decode_postings_per_s": _median(dec_rates),
        "codec.bytes_per_posting": nbytes / n_post,
    }


def per_layer(ctx, notes: dict, start_s: float, work: Path) -> dict:
    from perfbench.spans import attribute_jobs, read_event_log, span_stats

    spans = ctx.tracer.spans
    jobs = attribute_jobs(spans, read_event_log(work / "events"))
    stats = {s["id"]: span_stats(s, jobs[s["id"]], CORES) for s in spans}
    total_wall = max(s["end"] for s in spans) - min(s["start"] for s in spans)

    def of(*names):
        return [(s, stats[s["id"]]) for s in spans if s["name"] in names]

    def frac(*names):
        return sum(st["wall_s"] for _, st in of(*names)) / total_wall

    m = {"session.start_s": start_s}
    m.update(microbench(notes))
    builds = [st for _, st in of("build.build_index")]
    for what in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        m[f"build.{what}"] = _mean(st[what] for st in builds)
    m["build.core_busy_frac"] = _mean(st["core_busy_frac"] for st in builds)
    m["build.driver_gap_frac"] = _mean(st["driver_gap_s"] / st["wall_s"] for st in builds)
    index_dir = notes["index_dir"]
    m["io.postings_files"] = parquet_files(index_dir / "postings")
    m["io.dict_files"] = parquet_files(index_dir / "term_stats")
    m["io.index_bytes"] = index_bytes(index_dir)
    for op, name in QUERY_SPANS.items():
        calls = [st for _, st in of(name)]
        for what in ("jobs", "stages", "tasks"):
            m[f"query.{op}.{what}"] = _mean(st[what] for st in calls)
    single_spans = of(*(n for op, n in QUERY_SPANS.items() if op != "batch"))
    single = [st for _, st in single_spans]
    m["query.wand_p50_s"] = _median(st["wall_s"] for _, st in of("query.topk_wand"))
    m["query.dict_probe_s"] = _median(st["first_job_s"] for st in single)
    m["query.score_s"] = _median(st["last_job_s"] for st in single if st["jobs"] > 1)
    m["query.driver_gap_s"] = _median(st["driver_gap_s"] for st in single)
    m["query.empty_s"] = _median(st["wall_s"] for s, st in single_spans if s.get("rows") == 0)
    m["query.theta_seed_calls"] = notes.get("theta_seed_calls", 0)
    m["query.postings_bytes_read"] = _mean(st["input_bytes"] for st in single)
    batch_calls = [st for _, st in of("query.topk_batch")]
    m["query.batch.jobs_per_query"] = (
        sum(st["jobs"] for st in batch_calls) / notes["batch_queries"] if batch_calls else 0.0
    )
    m["query.core_busy_frac"] = _mean(st["core_busy_frac"] for st in single)
    m["streaming.ingest_frac"] = frac("streaming.upsert", "streaming.delete")
    m["streaming.compact_frac"] = frac("streaming.compact")
    refreshes = [s for s, _ in of("refresh")]
    kids = [st for s, st in ((s, stats[s["id"]]) for s in spans) if s["parent"] in {r["id"] for r in refreshes}]
    m["streaming.jobs_per_refresh"] = sum(st["jobs"] for st in kids) / len(refreshes) if refreshes else 0.0
    m["streaming.shuffle_write_bytes"] = (
        sum(st["shuffle_write_bytes"] for st in kids) / len(refreshes) if refreshes else 0.0
    )
    m["streaming.touched_bucket_frac"] = notes.get("touched_bucket_frac", 0.0)
    m["streaming.decoded_rows_per_delta_row"] = notes.get("decoded_rows_per_delta_row", 0.0)
    dedup = [st for _, st in of("dedup.lsh_candidate_pairs")]
    m["dedup.wall_frac"] = frac("dedup.lsh_candidate_pairs")
    m["dedup.candidate_pairs"] = notes.get("candidate_pairs", 0)
    m["dedup.shuffle_write_bytes"] = _mean(st["shuffle_write_bytes"] for st in dedup)
    m["dedup.spill_bytes"] = _mean(st["spill_bytes"] for st in dedup)
    m["simsearch.cosine_frac"] = frac("simsearch.cosine_topk_bruteforce")
    m["simsearch.neardup_frac"] = frac("simsearch.all_pairs_above")
    m["simsearch.neardup_pairs"] = notes.get("neardup_pairs", 0)
    m["trace.spans"] = len(spans)
    return m


# -- results kept in the checkout, for the tracing overhead -----------------


def results_file(workload: str) -> Path:
    return ROOT / ".perfbench" / "results" / f"{workload}.jsonl"


def untraced_query_p50(args) -> float:
    """Median query_p50_s of the untraced runs of this workload recorded in
    this checkout (same seed preferred); runs one untraced run first when
    there is none."""
    path = results_file(args.workload)
    if not path.exists():
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=170, check=True)
    recs = [json.loads(line) for line in path.read_text().splitlines() if line.strip()]
    same = [r for r in recs if r["seed"] == args.seed]
    return statistics.median(r["query_p50_s"] for r in (same or recs))


def remove_stale_work(root: Path) -> None:
    """Drop work dirs of runs that were killed before they could clean up."""
    for d in root.glob("*") if root.exists() else ():
        try:
            os.kill(int(d.name), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass  # a live process of another user


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import webindex  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import numpy as np

    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload == "all":
        # every workload, one process each, output passed through
        rest = ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        codes = [
            subprocess.run([sys.executable, str(Path(__file__).resolve()), "--workload", w, *rest]).returncode
            for w in WORKLOADS
        ]
        return max(codes)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2
    baseline = untraced_query_p50(args) if args.trace else None

    work = ROOT / ".perfbench" / "work" / str(os.getpid())
    remove_stale_work(work.parent)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = start_session(work, bool(args.trace))
        start_s = time.perf_counter() - t0
        if args.trace:
            tracer.attach(spark.sparkContext)
        ctx = Ctx(spark=spark, tracer=tracer, work=work, seed=args.seed, seconds=args.seconds,
                  rng=np.random.default_rng(args.seed))
        notes = WORKLOADS[args.workload](ctx)
        ctx.setup_s += start_s
        e2e = end_to_end(ctx, notes)
        rows = named_numbers(ctx, notes)
        tracer.attach(None)
        stop_session(spark)
        spark = None
        metrics = END_TO_END if not args.trace else PER_LAYER
        if args.trace:
            values = per_layer(ctx, notes, start_s, work)
            values["trace.query_p50_s"] = e2e["query_p50_s"]
            values["trace.overhead_frac"] = e2e["query_p50_s"] / baseline - 1.0
            tracer.write(ROOT / ".perfbench" / "spans" / f"{args.workload}-{args.seed}.json")
        else:
            values = e2e
            path = results_file(args.workload)
            path.parent.mkdir(parents=True, exist_ok=True)
            with path.open("a") as fh:
                fh.write(json.dumps({"seed": args.seed, **e2e}) + "\n")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for c in ctx.calls if not c[2])
    for name, value, unit, better, n in rows:
        print(f"{args.workload:8s} {name:28s} {value:14.6g} {unit:6s} {better:6s} n={n}")
    for name, value in values.items():
        unit, better = metrics[name]
        print(f"{args.workload:8s} {name:28s} {value:14.6g} {unit:6s} {better}")
    print(f"{args.workload:8s} attempted={len(ctx.calls)} failed={failed}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ctx.calls),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": metrics[k][0]} for k in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
