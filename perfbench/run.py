"""The repository's benchmark: closed-loop workloads against the public API.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads (one client, closed loop, one local Spark session):

- ``serve``: build a small one-shard index, send single-query requests for
  ``--seconds`` seconds, then one batch through ``strategy="wand"`` and the
  same batch through ``"exact"`` (their rankings must agree) and one
  ``search_mining`` sweep.
- ``ingest``: build a two-shard base index, one ``append_index`` batch, one
  ``delete_by_query``, then the single-query requests of ``serve`` on the
  appended, tombstoned index.

Every result is checked against the BM25 reference in ``reference.py``. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics; with ``--trace 1`` the same operations run with
spans and Spark job attribution, followed by trace-only probes (planning
decomposition, kernel counters, codec rates), and the metrics are the
per-layer ones; the traced ``ingest`` run adds the wand/exact batch pair.
See README.md for sizes and what each figure measures.
Scratch files (Spark local dirs, indexes, trace output) live under
``.perfbench_work/`` in the checkout; an index is removed when its run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import probes  # noqa: E402
from reference import Bm25, check_topk  # noqa: E402

CORES = 2             # Spark task slots (local[CORES])
DRIVER_MEM = "2g"     # SPARK_DRIVER_MEM: the index is small, the host shared
DOC_ORDER = "doclen"  # impact-ordered docIDs: block-max pruning has work
# serve: one shard of about 2,200 turns, so the hot term (in ~60% of turns)
# holds more postings than the engine's small-term cutoff (1,024 per shard)
# and goes through the block-max path instead of a whole decode
SERVE_CONVS = 170
SERVE_SHARDS = 1
INGEST_CONVS = 60     # conversations in the ingest base corpus
INGEST_SHARDS = 2     # two shards, then a second generation from the append
APPEND_CONVS = 10     # conversations in the append batch
MIN_REQUESTS = 2      # single-query requests per run, at least
REQUESTS = 15         # every query kind (5) at every k (3); a run starts at seed % 15
HEAD_WORDS = 50       # request words come from the 50 most frequent words
BATCH = 200           # queries per wand / exact batch
MINING = 200          # corpus-derived queries per search_mining sweep
MINING_K = 10
DELETE_PREDICATE = "tool = 'search' OR (role = 'user' AND turn_idx = 3)"


# every workload reports every end-to-end figure (see README.md)
E2E = ("setup_s", "setup_cpu_s", "build_cpu_s", "index_bytes_per_turn", "query_cpu_ms")
# the traced run reports these; a layer a workload does not use reads 0
_SPARK = ("spark_jobs", "tasks", "executor_cpu_ms", "shuffle_read_bytes", "input_bytes")
PER_LAYER = (
    ["session.get_spark_s"]
    + ["build.turns_per_s"]
    + [f"build.{s}_s" for s in ("docs", "mruns", "terms", "runs", "postings")]
    + [f"build.{f}" for f in ("spark_jobs", "tasks", "shuffle_write_bytes", "executor_cpu_ms")]
    + [f"append.{f}" for f in ("wall_s", "spark_jobs", "shuffle_write_bytes",
                               "bytes_written", "turns_per_s")]
    + ["deletes.delete_by_query_s"]
    + [f"query.plan.{f}" for f in ("load_index_ms", "load_tombstones_ms",
                                   "plan_queries_ms", "spark_jobs")]
    + ["query.p50_ms", "query.plan_ms", "query.exec_ms"]
    + [f"query.exec.{f}" for f in ("spark_jobs", "stages", "tasks", "executor_run_ms",
                                   "executor_cpu_ms", "cpu_per_run",
                                   "shuffle_read_bytes", "input_bytes")]
    + ["query.kernel.blocks_touched_ratio", "query.kernel.postings_touched_ratio"]
    + [f"batch.{s}.{f}" for s in ("wand", "exact") for f in ("qps",) + _SPARK]
    + [f"mining.{f}" for f in ("qps", "cpu_ms_per_query", "spark_jobs", "tasks",
                               "shuffle_write_bytes", "executor_cpu_ms")]
    + ["codec.decode_postings_per_s", "codec.encode_postings_per_s"]
    + [f"proc.{p}.{k}_cpu_s" for p in ("build", "append", "query", "batch.wand",
                                       "batch.exact", "mining")
       for k in ("driver", "jvm", "worker")]
    + [f"traced.{m}" for m in E2E]
)


def unit_of(name: str) -> str:
    for suffix, unit in (("qps", "1/s"), ("_per_s", "1/s"), ("_per_turn", "bytes"),
                         ("_ms_per_query", "ms"), ("_ms", "ms"), ("_s", "s"),
                         ("_bytes", "bytes"), ("bytes_written", "bytes"),
                         ("_ratio", "ratio"), ("cpu_per_run", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _delete_mask(df):
    return (df["tool"] == "search") | ((df["role"] == "user") & (df["turn_idx"] == 3))


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Run:
    """One benchmark process: its Spark session, inputs, checks and figures."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.faults: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.tracer = None

    # ---- session -----------------------------------------------------
    def start_spark(self) -> None:
        from elastichash_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}", cores=CORES,
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.local.dir": os.path.join(self.work, "spark-local")})
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        self.tracer = probes.Tracer(self.spark, bool(self.args.trace))

    def stop_spark(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while probes.descendants() and time.time() < deadline:
            time.sleep(0.1)
        for pid in probes.descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        while probes.descendants() and time.time() < deadline + 10:
            time.sleep(0.1)

    def setup_done(self) -> None:
        """The set-up ends when the inputs are on disk: Python start,
        ``get_spark`` and input generation. Wall from the process's start,
        and the process tree's CPU over the same span."""
        self.e2e["setup_s"] = probes.process_age_s()
        self.e2e["setup_cpu_s"] = sum(probes.tree_cpu().values())

    # ---- measured calls ----------------------------------------------
    def call(self, name: str, fn, request: str | None = None, leaf: bool = True):
        """Run ``fn`` once: (result, wall s, process-tree CPU s by kind).
        A call whose ``fn`` opens spans of its own is not a ``leaf``."""
        self.attempted += 1
        cpu0 = probes.tree_cpu()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, request, spark_counts=leaf):
                out = fn()
        except Exception:  # the workload goes on; the run reports it
            self.failed += 1
            print(f"perfbench: {name} failed:", file=sys.stderr)
            traceback.print_exc()
            return None, None, None
        wall = time.perf_counter() - t0
        cpu = probes.cpu_delta(cpu0, probes.tree_cpu())
        print(f"perfbench: {name} {request or ''} wall {wall:.3f} s cpu "
              + " ".join(f"{k} {v:.2f}" for k, v in cpu.items()), file=sys.stderr)
        return out, wall, cpu

    def fault(self, what: str) -> None:
        self.faults.append(what)
        print(f"perfbench: wrong result: {what}", file=sys.stderr)

    # ---- engine operations -------------------------------------------
    def build(self, src: str, index: str, shards: int, turns: int, ref: Bm25) -> None:
        from elastichash_spark.build import IndexConfig, build_index

        cfg = IndexConfig(num_shards=shards, doc_order=DOC_ORDER)
        meta, wall, cpu = self.call(
            "build.build_index", lambda: build_index(self.spark, src, index, cfg))
        if meta is None:
            raise RuntimeError("build_index failed: nothing to query")
        self.layer["build.turns_per_s"] = turns / wall
        self.e2e["build_cpu_s"] = sum(cpu.values())
        self._phase_cpu("build", cpu)
        for stage, secs in meta["stage_secs"].items():
            self.layer[f"build.{stage}_s"] = secs
        self._check_stats("build", meta, ref)

    def _check_stats(self, what: str, meta: dict, ref: Bm25) -> None:
        if meta["n_docs"] != ref.n_docs:
            self.fault(f"{what}: n_docs {meta['n_docs']} != {ref.n_docs}")
        if abs(meta["avgdl"] - ref.avgdl) > 1e-9 * ref.avgdl:
            self.fault(f"{what}: avgdl {meta['avgdl']!r} != {ref.avgdl!r}")

    def search(self, index: str, qs, strategy: str, name: str, request: str):
        """One request: ``search()`` then collect. (rows, wall, cpu)."""
        from elastichash_spark.query import search

        def go():
            with self.tracer.span(name + ".plan", request):
                df = search(self.spark, index, qs, strategy=strategy)
            with self.tracer.span(name + ".exec", request):
                return df.collect()

        return self.call(name, go, request, leaf=False)

    def check_rows(self, what, rows, qs, ref, doc_of, dead=frozenset()) -> dict:
        """Check every query of a result; returns {qid: [(rank, docID)]}."""
        by_q: dict[int, list] = {q[0]: [] for q in qs}
        for r in rows:
            by_q.setdefault(r["qid"], []).append((r["rank"], r["docID"], r["score"]))
        for qid, text, k in qs:
            err = check_topk(ref, text, k, by_q[qid], doc_of, dead)
            if err:
                self.fault(f"{what} qid {qid} {text!r} k={k}: {err}")
        return {q: sorted((r, d) for r, d, _ in v) for q, v in by_q.items()}

    def singles(self, index, queries, ref, doc_of, dead, budget_s) -> None:
        """One warm-up request, then a closed loop of single-query requests
        for ``budget_s`` seconds, at least ``MIN_REQUESTS``. A run sends only
        a few, so it starts at a seed-dependent place in ``queries``: over
        many seeds every request kind and k is measured."""
        # the first request in a process pays the JVM's compilation of the
        # query path (about 1.5 CPU-s more than the next ones); it is
        # checked but not measured
        q = queries[(self.args.seed - 1) % len(queries)]
        rows, _, _ = self.search(index, [q], "wand", "warmup", "w0")
        if rows is not None:
            self.check_rows("request", rows, [q], ref, doc_of, dead)
        walls, cpus, sent = [], [], []
        t_end = time.perf_counter() + budget_s
        i = 0
        while i < MIN_REQUESTS or time.perf_counter() < t_end:
            q = queries[(self.args.seed + i) % len(queries)]
            sent.append(q)
            rows, wall, cpu = self.search(index, [q], "wand", "query", f"r{i}")
            i += 1
            if rows is None:
                continue
            walls.append(wall)
            cpus.append(cpu)
            self.check_rows("request", rows, [q], ref, doc_of, dead)
        self.layer["query.p50_ms"] = 1e3 * _median(walls)
        self.e2e["query_cpu_ms"] = 1e3 * _median([sum(c.values()) for c in cpus])
        self._phase_cpu("query", {k: _median([c[k] for c in cpus]) for k in probes.KINDS})
        if self.tracer.enabled:
            for j, q in enumerate(sent):
                self._plan_decomposition(index, q, f"r{j}")

    def batches(self, index, qs, ref, doc_of, dead=frozenset()) -> None:
        ranked = {}
        for strategy in ("wand", "exact"):
            rows, wall, cpu = self.search(index, qs, strategy, f"batch.{strategy}", strategy)
            if rows is None:
                continue
            self.layer[f"batch.{strategy}.qps"] = len(qs) / wall
            self._phase_cpu(f"batch.{strategy}", cpu)
            ranked[strategy] = self.check_rows(f"{strategy} batch", rows, qs, ref, doc_of, dead)
        if len(ranked) == 2 and ranked["wand"] != ranked["exact"]:
            diff = [q for q in ranked["wand"] if ranked["wand"][q] != ranked["exact"].get(q)]
            self.fault(f"wand and exact rankings differ on qids {diff[:5]}")
        if self.tracer.enabled:
            self._kernel_stats(index, qs)

    def mining(self, index, mq, ref, doc_of, dead=frozenset()) -> None:
        from elastichash_spark.query import search_mining

        def go():
            with self.tracer.span("mining.plan", "mining"):
                qdf = self.spark.createDataFrame(mq, "qid long, text string")
                df = search_mining(self.spark, index, qdf, MINING_K)
            with self.tracer.span("mining.exec", "mining"):
                return df.collect()

        rows, wall, cpu = self.call("mining", go, "mining", leaf=False)
        if rows is None:
            return
        self.layer["mining.qps"] = len(mq) / wall
        self.layer["mining.cpu_ms_per_query"] = 1e3 * sum(cpu.values()) / len(mq)
        self._phase_cpu("mining", cpu)
        self.check_rows("mining", rows, [(q, t, MINING_K) for q, t in mq], ref, doc_of, dead)

    def append(self, index, src, turns, ref) -> None:
        from elastichash_spark.append import append_index

        before = _dir_bytes(index)
        summary, wall, cpu = self.call(
            "append.append_index",
            lambda: append_index(self.spark, self.spark.read.parquet(src), index, "a0"),
            "a0")
        if summary is None:
            return
        self._check_stats("append", summary, ref)
        self.layer["append.wall_s"] = wall
        self.layer["append.turns_per_s"] = turns / wall
        self.layer["append.bytes_written"] = _dir_bytes(index) - before
        self._phase_cpu("append", cpu)

    def _phase_cpu(self, phase: str, cpu: dict) -> None:
        """Add a call's process-tree CPU to its phase's totals."""
        for k, v in cpu.items():
            name = f"proc.{phase}.{k}_cpu_s"
            self.layer[name] = self.layer.get(name, 0.0) + v

    # ---- trace-only probes -------------------------------------------
    def _plan_decomposition(self, index, q, request) -> None:
        """Time the public calls ``search()`` makes before any action, each on
        its own, after the request (its span does not include them)."""
        from elastichash_spark.build import load_index
        from elastichash_spark.deletes import load_tombstones
        from elastichash_spark.query import plan_queries

        with self.tracer.span("query.plan.load_index", request):
            terms = load_index(self.spark, index)[2]
        with self.tracer.span("query.plan.load_tombstones", request):
            load_tombstones(self.spark, index)
        with self.tracer.span("query.plan.plan_queries", request):
            plan_queries(terms, [q])

    def _kernel_stats(self, index, qs) -> None:
        """Pruning of the block-max kernel over the wand batch, with the
        engine's defaults: a term under the small-term cutoff is decoded
        whole and counts every block as touched."""
        from elastichash_spark.query import search

        with self.tracer.span("query.kernel.stats", "stats"):
            _, stats = search(self.spark, index, qs, strategy="wand", with_stats=True)
        self.layer["query.kernel.blocks_touched_ratio"] = (
            stats["blocks_touched"] / max(1, stats["blocks_total"]))
        self.layer["query.kernel.postings_touched_ratio"] = (
            stats["postings_touched"] / max(1, stats["postings_total"]))

    def codec_rates(self, index) -> None:
        """Public codec functions over this index's own posting blocks."""
        import pyarrow.dataset as ds

        from elastichash_spark import codec

        tbl = ds.dataset(os.path.join(index, "postings"), format="parquet",
                         partitioning="hive").to_table(columns=["n", "blob"])
        ns = tbl.column("n").to_pylist()
        blobs = tbl.column("blob").to_pylist()
        t0 = time.perf_counter()
        decoded = [codec.decode_run(b, n) for b, n in zip(blobs, ns)]
        t1 = time.perf_counter()
        encoded = [codec.encode_run(*d) for d in decoded]
        t2 = time.perf_counter()
        if encoded != blobs:
            self.fault("codec: re-encoding decoded blocks changed their bytes")
        total = sum(ns)
        self.layer["codec.decode_postings_per_s"] = total / (t1 - t0)
        self.layer["codec.encode_postings_per_s"] = total / (t2 - t1)

    def spark_layers(self) -> None:
        """Per-layer Spark counts from the spans."""
        tr = self.tracer

        def total(names, field):
            return sum(s["spark"][field] for n in names for s in tr.of(n))

        def med(name, field):
            return _median([s["spark"][field] for s in tr.of(name)])

        def ms(name):
            return 1e3 * _median([s["end"] - s["start"] for s in tr.of(name)])

        for f in ("spark_jobs", "tasks", "shuffle_write_bytes", "executor_cpu_ms"):
            self.layer[f"build.{f}"] = total(["build.build_index"], f)
            self.layer[f"mining.{f}"] = total(["mining.plan", "mining.exec"], f)
        for f in ("spark_jobs", "shuffle_write_bytes"):
            self.layer[f"append.{f}"] = total(["append.append_index"], f)
        dels = tr.of("deletes.delete_by_query")
        self.layer["deletes.delete_by_query_s"] = sum(s["end"] - s["start"] for s in dels)
        for part in ("load_index", "load_tombstones", "plan_queries"):
            self.layer[f"query.plan.{part}_ms"] = ms(f"query.plan.{part}")
        self.layer["query.plan_ms"] = ms("query.plan")
        self.layer["query.plan.spark_jobs"] = med("query.plan", "spark_jobs")
        self.layer["query.exec_ms"] = ms("query.exec")
        for f in ("spark_jobs", "stages", "tasks", "executor_run_ms",
                  "executor_cpu_ms", "shuffle_read_bytes", "input_bytes"):
            self.layer[f"query.exec.{f}"] = med("query.exec", f)
        run_ms = self.layer["query.exec.executor_run_ms"]
        self.layer["query.exec.cpu_per_run"] = (
            self.layer["query.exec.executor_cpu_ms"] / run_ms if run_ms else 0.0)
        for strategy in ("wand", "exact"):
            for f in _SPARK:
                self.layer[f"batch.{strategy}.{f}"] = total(
                    [f"batch.{strategy}.plan", f"batch.{strategy}.exec"], f)
        for k, v in self.e2e.items():
            self.layer[f"traced.{k}"] = v


def docs_map(index: str, keys: dict) -> dict[int, int]:
    """Engine docID -> reference document, read from the index's docs table."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(os.path.join(index, "docs"), format="parquet",
                     partitioning="hive").to_table(columns=["docID", "conv_id", "turn_idx"])
    return {d: keys[(c, t)] for d, c, t in zip(tbl.column("docID").to_pylist(),
                                               tbl.column("conv_id").to_pylist(),
                                               tbl.column("turn_idx").to_pylist())}


def _keys(df) -> dict:
    return {(c, int(t)): i for i, (c, t) in enumerate(zip(df["conv_id"], df["turn_idx"]))}


def _write(df, path: str) -> str:
    df.to_parquet(path, index=False, coerce_timestamps="us")
    return path


def serve(run: Run) -> None:
    seed, work = run.args.seed, run.work
    docs = corpus.make_corpus(seed, 0, SERVE_CONVS)
    src = _write(docs, os.path.join(work, "corpus.parquet"))
    run.setup_done()

    requests = corpus.make_queries(seed, REQUESTS, head=HEAD_WORDS)
    queries = corpus.make_queries(seed, BATCH)
    mq = corpus.mining_queries(seed, docs, MINING)
    ref = Bm25(docs["text"].tolist())
    index = os.path.join(work, "index")
    run.build(src, index, SERVE_SHARDS, len(docs), ref)
    run.e2e["index_bytes_per_turn"] = _dir_bytes(index) / len(docs)
    doc_of = docs_map(index, _keys(docs))
    run.singles(index, requests, ref, doc_of, frozenset(), run.args.seconds)
    run.batches(index, queries, ref, doc_of)
    run.mining(index, mq, ref, doc_of)
    if run.tracer.enabled:
        run.codec_rates(index)


def ingest(run: Run) -> None:
    import pandas as pd

    from elastichash_spark.deletes import delete_by_query

    seed, work = run.args.seed, run.work
    base = corpus.make_corpus(seed, 0, INGEST_CONVS)
    batch = corpus.make_corpus(seed, INGEST_CONVS, APPEND_CONVS)
    src = _write(base, os.path.join(work, "corpus.parquet"))
    batch_src = _write(batch, os.path.join(work, "append.parquet"))
    run.setup_done()

    requests = corpus.make_queries(seed, REQUESTS, head=HEAD_WORDS)
    queries = corpus.make_queries(seed, BATCH)
    index = os.path.join(work, "index")
    run.build(src, index, INGEST_SHARDS, len(base), Bm25(base["text"].tolist()))
    docs = pd.concat([base, batch], ignore_index=True)
    ref = Bm25(docs["text"].tolist())
    run.append(index, batch_src, len(batch), ref)
    run.e2e["index_bytes_per_turn"] = _dir_bytes(index) / len(docs)

    dead = frozenset(docs.index[_delete_mask(docs)].tolist())
    n, _, _ = run.call("deletes.delete_by_query",
                       lambda: delete_by_query(run.spark, index, DELETE_PREDICATE))
    if n is not None and n != len(dead):
        run.fault(f"delete_by_query deleted {n}, reference {len(dead)}")
    doc_of = docs_map(index, _keys(docs))
    run.singles(index, requests, ref, doc_of, dead, run.args.seconds)
    if run.tracer.enabled:
        # every ingest term is under the small-term cutoff, so wand and exact
        # share one path here: the pair gives batch figures, and their
        # agreement says nothing about block-max pruning
        run.batches(index, queries, ref, doc_of, dead)
        run.codec_rates(index)


WORKLOADS = {"serve": serve, "ingest": ingest}


def _environment(work: str) -> None:
    """Keep every scratch file of Spark, the JVM and the workers in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "elastichash_spark", "__init__.py")):
        print("perfbench: run from the root of an elastichash_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    run = Run(args, work)
    steal0 = probes.host_steal_s()
    try:
        run.start_spark()
        WORKLOADS[args.workload](run)
        if run.tracer.enabled:
            run.spark_layers()
            run.tracer.dump(os.path.join(
                work_root, "traces", f"{args.workload}-{args.seed}.json"))
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: {probes.process_age_s():.1f} s in all, host steal "
              f"{probes.host_steal_s() - steal0:.1f} CPU-s", file=sys.stderr)

    missing = [m for m in E2E if not math.isfinite(run.e2e.get(m, math.nan))]
    if missing:
        print(f"perfbench: no figure for {missing}: operations failed", file=sys.stderr)
        return 1
    if args.trace:
        extra = sorted(set(run.layer) - set(PER_LAYER))
        if extra:
            print(f"perfbench: unlisted per-layer figures {extra}", file=sys.stderr)
        # a layer this workload does not use reads 0
        metrics = {name: run.layer.get(name, 0.0) for name in PER_LAYER}
        metrics = {k: v if math.isfinite(v) else 0.0 for k, v in metrics.items()}
    else:
        metrics = run.e2e
    result = {
        "correct": not run.faults,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(v), "unit": unit_of(name)}
                    for name, v in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
