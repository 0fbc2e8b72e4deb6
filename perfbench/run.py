"""Benchmark of the dedup engine: batch cascade throughput, steady-state
ingest and probe latency, and (traced) per-layer spans.

Run from the repository root:

    python3 perfbench/run.py --workload conv --seed 1 --seconds 10 --trace 0

One run, in one Spark session of ``local[<nproc>]`` from this process:

1. Set-up (``setup_s``): session start, a first (cold) run of the cascade
   over 5% of the corpus, and a first (cold) ingest and probe. Generating
   the inputs is the load generator's time and is not counted.
2. Batch phase: ``plans.pipeline.dedup_pipeline`` over the whole corpus,
   at the workload's granularity (``conv`` or ``turn``), fully collected,
   repeated for half of ``--seconds`` (at least once).
3. Index build (``index_build_s``): bucketed ``shingle_hashes`` and
   ``band_buckets`` over 90% of the conversations, as ``cli index
   --bucketed-index`` builds them.
4. Steady phase, a closed loop with one client for the other half of
   ``--seconds`` (at least one cycle): each cycle ingests a 1%
   conversation delta through ``incremental_dedup`` (probe + bucketed
   fold-in) and then runs ``search_probe`` on one indexed and one freshly
   ingested document.

Every operation's output is gated against the planted labels (gates.py);
a failed gate counts in ``failed``. With ``--trace 1`` the same run is
decomposed into its layers with the Spark event log on, and only the
per-layer metrics are printed (spans.py), with the decomposition's
summed layer wall against ``dedup_pipeline``'s wall in the same traced
session (event log on, one run). Every run gets its own store,
warehouse, Spark local dirs and temp dir under ``perfbench/.runs/``,
deleted at the end; traces are kept under ``perfbench/.traces/``.

The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gates  # noqa: E402
import loadgen  # noqa: E402
import procs  # noqa: E402
import spans  # noqa: E402
from lsh_spark.canonicalize import conversation_docs, turn_docs  # noqa: E402
from lsh_spark.config import DedupConfig  # noqa: E402

# the scale configuration of bench.py
CFG = DedupConfig(hash_mode="fast", substring_sample_mod=8, band_rows=2)
# Both workloads share one corpus size and the steady loop (on conversation
# documents, as the search and ingest surfaces use it); they differ in the
# granularity of the batch cascade. The size keeps one run near a minute on
# 4 cores, where the cascade is bound by per-job overhead, not by data; it
# also keeps the shared boilerplate turn (in 224 of the 1800 conversations
# here, whatever the seed) over the 200-member hot-bucket cap in the turn
# cascade.
N_BASE = 1500
WORKLOADS = ("conv", "turn")   # the batch cascade's granularity
WARMUP_SHARE = 0.05       # of the planted groups, for the warm-up cascade
N_BUCKETS = 16            # bucket count of cli index --bucketed-index
MIN_BATCH_REPS = 1
MIN_CYCLES = 1
PROBES_PER_CYCLE = 2      # one indexed document, one fresh one


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical RAM, at most 4 GiB (session.py defaults to
    16g, more than a small box has)."""
    total_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return f"{max(1, min(4, total_kb // 4 // 2**20))}g"


def digest(rows) -> str:
    lines = sorted(f"{r[0]}\t{r[1]}" for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Run:
    def __init__(self, args):
        self.args = args
        self.batch_cfg = CFG.with_(granularity=args.workload)
        # the steady loop runs on conversation documents in both workloads
        self.cfg = CFG.with_(granularity="conv")
        self.dir = os.path.join(HERE, ".runs",
                                f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.setup_s = 0.0

    # -- inputs -------------------------------------------------------
    def make_inputs(self) -> None:
        c = loadgen.generate(self.args.seed, N_BASE)
        warm = loadgen.subset(c, int(N_BASE * WARMUP_SHARE))

        def reference(corpus, cfg):
            return gates.Reference(corpus, cfg.granularity, cfg.shingle_k,
                                   cfg.jaccard_threshold)

        self.ref = reference(c, self.cfg)
        self.batch_ref = (self.ref if self.args.workload == "conv"
                          else reference(c, self.batch_cfg))
        self.warm_ref = reference(warm, self.batch_cfg)
        self.delta_convs = loadgen.steady_deltas(c, self.args.seed)
        held = [x for d in self.delta_convs for x in d]
        data = os.path.join(self.dir, "data")
        os.makedirs(data)

        def write(name, convs=None, keep=True):
            t = c.transcripts
            if convs is not None:
                mask = pc.is_in(t.column("conv_id"),
                                value_set=pa.array(convs, pa.string()))
                t = t.filter(mask if keep else pc.invert(mask))
            path = os.path.join(data, f"{name}.parquet")
            pq.write_table(t, path)
            return path

        self.full_path = write("full")
        self.warm_path = write("warmup", warm.conv_ids)
        self.index_path = write("index", held, keep=False)
        self.delta_paths = [write(f"delta{i}", d)
                            for i, d in enumerate(self.delta_convs)]
        self.index_docs = set(self.ref.doc_ids(
            set(c.conv_ids) - set(held)))
        self.n_turns = c.transcripts.num_rows
        self.rng = np.random.default_rng([self.args.seed, 2])
        self.identical: dict[str, set[str]] = {}
        for a, b, same in self.ref.pairs:
            if same:
                self.identical.setdefault(a, set()).add(b)
                self.identical.setdefault(b, set()).add(a)

    # -- session ------------------------------------------------------
    def start_spark(self):
        from lsh_spark.session import get_spark
        tmp = os.path.join(self.dir, "tmp")
        local = os.path.join(self.dir, "local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        mem = driver_mem()
        self.gc_log = os.path.join(self.dir, "gc.log")
        os.environ.update({
            "LSH_SPARK_WAREHOUSE": os.path.join(self.dir, "warehouse"),
            "LSH_SPARK_DRIVER_MEM": mem,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # spark-submit's launcher JVM would write /tmp/hsperfdata_*
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # the Python workers import lsh_spark from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        conf = {
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xlog:gc:file={self.gc_log}",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.dir, "events")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(f"perfbench_{self.args.workload}", cores=nproc(),
                          extra_conf=conf)
        self.tracer = spans.Tracer(spark.sparkContext, bool(self.args.trace))
        return spark

    def docs(self, spark, path):
        return conversation_docs(spark.read.parquet(path)) \
            .select("doc_id", "text")

    def gate(self, fails: list[str]) -> None:
        self.attempted += 1
        if fails:
            self.failed += 1
            for f in fails[:5]:
                log(f"GATE FAILED: {f}")

    # -- batch --------------------------------------------------------
    def pipeline(self, spark, transcripts):
        from lsh_spark.plans.pipeline import dedup_pipeline
        t0 = time.perf_counter()
        rows = dedup_pipeline(spark, transcripts, self.batch_cfg).collect()
        return time.perf_counter() - t0, rows

    def traced_pipeline(self, spark, transcripts):
        """dedup_pipeline's fast path (store=None, all three passes, union
        cascade, hashmin CC) called layer by layer, with a checkpoint at
        every layer boundary."""
        from pyspark.sql import functions as F
        from lsh_spark.operators import lsh_bands, pairs, simhash, suffix
        from lsh_spark.operators.connected_components import \
            connected_components
        from lsh_spark.operators.fused import fused_doc_features
        from lsh_spark.operators.skew import bucket_census
        cfg, tr = self.batch_cfg, self.tracer
        with tr.span("pipeline"):
            with tr.span("docs", "canonicalize"):
                canon = (conversation_docs if cfg.granularity == "conv"
                         else turn_docs)
                docs = canon(transcripts).select("doc_id", "text") \
                    .localCheckpoint()
            with tr.span("fused", "fused"):
                fused = fused_doc_features(docs, cfg).localCheckpoint()
            hashes = fused.select("doc_id", "hashes")
            with tr.span("candidates", "lsh_bands"):
                sigs = fused.filter(F.col("sig").isNotNull()) \
                    .select("doc_id", "sig")
                bands = lsh_bands.band_buckets(sigs, cfg)
                cand = lsh_bands.candidate_pairs(bands, cfg).localCheckpoint()
            with tr.span("verify", "pairs"):
                e_min = pairs.verify_pairs(cand, hashes, cfg) \
                    .select("doc_a", "doc_b").localCheckpoint()
            with tr.span("simhash", "simhash"):
                e_sim = simhash.simhash_candidate_pairs(
                    fused.select("doc_id", "simhash"), cfg) \
                    .select("doc_a", "doc_b").localCheckpoint()
            with tr.span("substring", "suffix"):
                grams = fused.select("doc_id",
                                     F.explode("grams").alias("gram_hash"))
                e_sub = suffix.shared_key_pairs(
                    grams, "gram_hash", cfg, cfg.hot_bucket_cap,
                    count_col="shared_grams") \
                    .select("doc_a", "doc_b").localCheckpoint()
            with tr.span("cc", "connected_components"):
                edges = e_min.unionByName(e_sim).unionByName(e_sub)
                rows = connected_components(edges).collect()
        n_docs, n_cand, n_min = docs.count(), cand.count(), e_min.count()
        tr.count("canonicalize", "rows_in", self.n_turns)
        tr.count("canonicalize", "rows_out", n_docs)
        tr.count("fused", "rows_out", fused.count())
        tr.count("fused", "null_sig_docs",
                 fused.filter(F.col("sig").isNull()).count())
        tr.count("lsh_bands", "rows_out", n_cand)
        tr.count("lsh_bands", "candidates", n_cand)
        tr.count("lsh_bands", "hot_buckets", bucket_census(
            lsh_bands.band_buckets(sigs, cfg), ["band_id", "band_hash"], cfg)
            .filter(F.col("bucket_size") > cfg.hot_bucket_cap).count())
        tr.count("pairs", "rows_out", n_min)
        tr.count("pairs", "verified_ratio", n_min / max(1, n_cand))
        for layer, frame, grams_in in (
                ("simhash", e_sim, fused.filter(F.col("simhash").isNotNull())),
                ("suffix", e_sub, grams)):
            n = frame.count()
            tr.count(layer, "rows_out", n)
            tr.count(layer, "pairs_out", n)
            tr.count(layer, "grams_in", grams_in.count())
        tr.count("connected_components", "edges_in", edges.count())
        tr.count("connected_components", "rows_out", len(rows))
        return rows

    def batch_phase(self, spark) -> None:
        # the first (cold) run, over a slice of the corpus, is set-up: the
        # cold cost is mostly per query plan (code generation, JIT, worker
        # start), not per row
        wall, rows = self.pipeline(spark, spark.read.parquet(self.warm_path))
        self.setup_s += wall
        log(f"warm-up pipeline {wall:.3f}s")
        self.gate(self.warm_ref.check_clusters(rows)[0])
        transcripts = spark.read.parquet(self.full_path)
        walls, want = [], None
        t0 = time.perf_counter()
        window = self.args.seconds / 2
        while len(walls) < MIN_BATCH_REPS or time.perf_counter() - t0 < window:
            wall, rows = self.pipeline(spark, transcripts)
            walls.append(wall)
            if want is None:
                fails, recall = self.batch_ref.check_clusters(rows)
                self.gate(fails)
                want = digest(rows)
            else:
                self.gate([] if digest(rows) == want else
                          ["pipeline output differs from the first run's"])
            if self.args.trace:
                break
        log(f"batch walls {[round(w, 3) for w in walls]} rows {len(rows)} "
            f"recall {recall:.4f}")
        self.metrics["batch_turns_per_s"] = (
            self.n_turns / statistics.median(walls), "turns/s")
        self.metrics["dup_pair_recall"] = (recall, "ratio")
        if self.args.trace:
            plain = walls[0]
            rows = self.traced_pipeline(spark, transcripts)
            self.gate([] if digest(rows) == want else
                      ["traced decomposition output differs from "
                       "dedup_pipeline's"])
            layer_sum = sum(s["end"] - s["start"] for s in self.tracer.spans
                            if s["layer"] and s["parent"] is not None
                            and self.tracer.spans[s["parent"]]["name"]
                            == "pipeline")
            # the baseline is dedup_pipeline in this same session, with
            # the event log on and from one run: the ratio is the cost of
            # the decomposition, not of the event log
            self.trace_extra = {
                "trace.pipeline_wall_s": plain,
                "trace.layer_wall_sum_s": layer_sum,
                "trace.layer_sum_ratio": layer_sum / plain,
            }
            log(f"traced layer wall sum {layer_sum:.3f}s vs dedup_pipeline "
                f"{plain:.3f}s")

    # -- steady -------------------------------------------------------
    def build_index(self, spark, store) -> None:
        from lsh_spark.operators import lsh_bands, minhash
        from lsh_spark.operators.shingle import doc_shingle_hashes_arrow
        t0 = time.perf_counter()
        with self.tracer.span("index", "checkpoint"):
            docs = self.docs(spark, self.index_path)
            hashes = store.write_bucketed(
                doc_shingle_hashes_arrow(docs, self.cfg), "shingle_hashes",
                ("doc_id",), N_BUCKETS)
            bands = store.write_bucketed(
                lsh_bands.band_buckets(
                    minhash.minhash_signatures(hashes, self.cfg), self.cfg),
                "band_buckets", ("band_hash",), N_BUCKETS)
            store.record_geometry(self.cfg)
        self.metrics["index_build_s"] = (time.perf_counter() - t0, "s")
        if self.args.trace:
            self.tracer.count("checkpoint", "rows_out",
                              hashes.count() + bands.count())

    def ingest(self, spark, store, new_docs):
        from lsh_spark.plans.pipeline import incremental_dedup
        if not self.args.trace:
            return incremental_dedup(
                spark, new_docs, store, self.cfg,
                bands_stage="band_buckets",
                hashes_stage="shingle_hashes").collect()
        return self.traced_ingest(spark, store, new_docs)

    def traced_ingest(self, spark, store, new_docs):
        """incremental_dedup with update_index on a bucketed store, split
        into its probe (incremental_dedup_flags) and its two appends."""
        from lsh_spark.operators import lsh_bands, minhash
        from lsh_spark.operators.shingle import doc_shingle_hashes_arrow
        from lsh_spark.plans.pipeline import incremental_dedup_flags
        cfg, tr = self.cfg, self.tracer
        with tr.span("ingest"):
            with tr.span("flags", "incremental"), count_candidates() as cand:
                store.validate_geometry(cfg)
                index_bands = store.read_bucketed(spark, "band_buckets")
                index_hashes = store.read_bucketed(spark, "shingle_hashes")
                new_hashes = doc_shingle_hashes_arrow(new_docs, cfg) \
                    .localCheckpoint()
                new_bands = lsh_bands.band_buckets(
                    minhash.minhash_signatures(new_hashes, cfg), cfg) \
                    .localCheckpoint()
                flags = incremental_dedup_flags(
                    new_docs, index_bands, index_hashes, cfg,
                    new_hashes=new_hashes, new_bands=new_bands) \
                    .localCheckpoint()
            with tr.span("append_hashes", "checkpoint"):
                store.append_bucketed(new_hashes, "shingle_hashes",
                                      ("doc_id",), N_BUCKETS)
            with tr.span("append_bands", "checkpoint"):
                store.append_bucketed(new_bands, "band_buckets",
                                      ("band_hash",), N_BUCKETS)
        rows = flags.collect()
        tr.count("incremental", "candidates", sum(c.count() for c in cand))
        tr.count("incremental", "flags", len(rows))
        tr.count("incremental", "rows_out", len(rows))
        tr.count("checkpoint", "rows_out",
                 new_hashes.count() + new_bands.count())
        return rows

    def pick_probes(self, fresh: list[str], indexed: set[str],
                    k: int) -> list[str]:
        """``k`` probes, half indexed documents, half (rounded up) from the
        delta just ingested; documents whose identical partner is indexed
        come first, since only those have a known answer."""
        half = k // 2

        def choose(pool, k):
            known = [d for d in pool if self.identical.get(d, set()) & indexed]
            rest = sorted(set(pool) - set(known))
            picked = (list(self.rng.permutation(known)[:k])
                      + list(self.rng.permutation(rest)[:max(0, k - len(known))]))
            return [str(d) for d in picked]

        return choose(self.old_pool, half) + choose(fresh, k - half)

    def cycle(self, spark, store, i: int, n_probes: int = PROBES_PER_CYCLE):
        from lsh_spark.operators.search import search_probe
        new_docs = self.docs(spark, self.delta_paths[i])
        fresh = self.ref.doc_ids(self.delta_convs[i])
        fresh_set = set(fresh)
        t0 = time.perf_counter()
        flags = self.ingest(spark, store, new_docs)
        ingest_s = time.perf_counter() - t0
        self.gate(self.ref.check_flags(
            [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in flags],
            fresh_set))
        flagged = {(r["doc_a"], r["doc_b"]) for r in flags}
        for a, b, _ in self.ref.pairs:
            for new, old in ((a, b), (b, a)):
                if new in fresh_set and old in self.indexed:
                    self.ingest_expected += 1
                    self.ingest_found += ((new, old) in flagged)
        self.indexed |= fresh_set
        bands = store.read_bucketed(spark, "band_buckets")
        hashes = store.read_bucketed(spark, "shingle_hashes")
        lat = []
        for p in self.pick_probes(fresh, self.indexed, n_probes):
            t0 = time.perf_counter()
            with self.tracer.span("probe", "search"):
                res = search_probe(bands, hashes, p, self.cfg).collect()
            lat.append(time.perf_counter() - t0)
            got = {r["neighbor_id"] for r in res}
            want = self.identical.get(p, set()) & self.indexed
            self.gate([f"probe {p} misses indexed partner(s) {sorted(want - got)}"]
                      if want - got else [])
            self.tracer.count("search", "rows_out", len(res))
            self.tracer.count("search", "probes", 1)
        return ingest_s, lat

    def steady_phase(self, spark) -> None:
        from lsh_spark.plans.checkpoint import CheckpointStore
        store = CheckpointStore(os.path.join(self.dir, "store"))
        self.build_index(spark, store)
        self.indexed = set(self.index_docs)
        self.old_pool = sorted(d for d in self.index_docs
                               if self.identical.get(d, set()) & self.indexed)
        self.ingest_expected = self.ingest_found = 0
        # the first (cold) ingest and probe are set-up
        ingest_s, lat = self.cycle(spark, store, 0, n_probes=1)
        self.setup_s += ingest_s + sum(lat)
        log(f"warm-up cycle: ingest {ingest_s:.3f}s, probe {sum(lat):.3f}s")
        ingests, probes = [], []
        t0 = time.perf_counter()
        window = self.args.seconds / 2
        i = 1
        while i < len(self.delta_paths) and (
                len(ingests) < MIN_CYCLES
                or time.perf_counter() - t0 < window):
            ingest_s, lat = self.cycle(spark, store, i)
            ingests.append(ingest_s)
            probes += lat
            i += 1
        log(f"ingest walls {[round(x, 3) for x in ingests]}; "
            f"probe walls {[round(x, 3) for x in probes]}; ingest recall "
            f"{self.ingest_found}/{self.ingest_expected}")
        self.metrics["ingest_p50_s"] = (statistics.median(ingests), "s")
        self.metrics["ingest_dup_recall"] = (
            self.ingest_found / max(1, self.ingest_expected), "ratio")
        self.metrics["probe_p50_ms"] = (1000 * statistics.median(probes), "ms")
        if self.args.trace:
            self.trace_extra["checkpoint.index_files"] = sum(
                1 for _, _, files in os.walk(
                    os.environ["LSH_SPARK_WAREHOUSE"])
                for f in files if not f.startswith((".", "_")))

    # -- whole run ----------------------------------------------------
    def execute(self) -> dict:
        self.make_inputs()
        t0 = time.perf_counter()
        spark = self.start_spark()
        self.setup_s += time.perf_counter() - t0
        log(f"session start {self.setup_s:.3f}s")
        try:
            from pyspark import SparkContext
            with procs.PeakRss(SparkContext._gateway.proc.pid) as rss:
                self.batch_phase(spark)
                self.steady_phase(spark)
        finally:
            t0 = time.perf_counter()
            procs.stop_spark(spark)
            log(f"stop {time.perf_counter() - t0:.3f}s")
        self.metrics["setup_s"] = (self.setup_s, "s")
        heap_mb = procs.heap_after_gc_peak_mb(self.gc_log)
        self.metrics["peak_mem_mb"] = (heap_mb + rss.peak_mb, "MB")
        log(f"JVM heap after GC peak {heap_mb:.0f} MB; worker peak RSS MB by "
            "pid: " + ", ".join(f"{pid}={kb / 1024:.0f}"
                               for pid, kb in sorted(rss.per_pid.items())))
        if not self.args.trace:
            return self.result(self.metrics)
        layer = spans.layer_report(self.event_dir, self.tracer)
        layer.update(self.trace_extra)
        layer["checkpoint.bytes_written_mb"] = dir_bytes(
            os.environ["LSH_SPARK_WAREHOUSE"]) / 2**20
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        self.tracer.dump(os.path.join(
            HERE, ".traces", f"{self.args.workload}-seed{self.args.seed}.json"))
        return self.result({k: (v, unit_of(k)) for k, v in layer.items()})

    def result(self, metrics) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in sorted(metrics.items())},
        }


@contextmanager
def count_candidates():
    """Collect the candidate frames incremental_dedup_flags hands to
    ``pairs.verify_pairs`` (it is not returned), checkpointed so that
    counting them afterwards does not re-run candidate generation."""
    from lsh_spark.operators import pairs
    real = pairs.verify_pairs
    seen = []

    def wrapper(cand, *a, **kw):
        cand = cand.localCheckpoint()
        seen.append(cand)
        return real(cand, *a, **kw)

    pairs.verify_pairs = wrapper
    try:
        yield seen
    finally:
        pairs.verify_pairs = real


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def unit_of(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still removes its directories (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        result = run.execute()
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
