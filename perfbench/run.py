"""Benchmark of the engine as its users drive it.

Workloads (one client, closed loop, ``local[<cores>]``):

- ``batch_analytics``: TPC-H keys, the reference's four query keys and
  slow curation keys at sf0.1, where executor scans and shuffles, Python
  UDF workers, checkpoint blocks and build-time jobs do the work.
- ``etl_export``: the reference's job (discover rules, export each rule
  to per-day parquet, one dated-parquet pass) on a generated JSON corpus:
  the only write path.

Each run executes whole passes over its workload's operation set, in an
order drawn from ``--seed``, until the operations have taken at least
``--seconds``. Every output is checked outside the timed region: query
results against DuckDB running ``oracle_sql()``, exports against the row
counts the corpus generator recorded. ``--trace 1`` runs the same loop
with spans and per-layer counts and prints the per-layer metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload batch_analytics --seed 1 \\
        --seconds 6 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from datetime import date
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

WORKLOADS = ("batch_analytics", "etl_export")
REFERENCE_KEYS = ["terms_agg", "match_phrase_filter", "date_range_scan",
                  "json_decode"]
# Curation keys: bm25_topk brings a tracked checkpoint block,
# dedup_embedding the pandas UDF workers. Left out: dedup_minhash,
# dedup_simhash and dedup_containment (DuckDB oracle > 20 s each at sf0.1),
# semantic_dedup (oracle ~13 s), and bpe_encode_stats and kmeans_clusters
# (4-7 s a call, and 10-13 s each of warm-up on a loaded 4-core host).
CURATION_KEYS = ["bm25_topk", "dedup_embedding"]
ETL_DOCS = 30_000
ETL_WARMUP_DOCS = 700
ETL_SAMPLE_RATIO = 0.1        # the CLI's default --sample-ratio

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "op_ok_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def batch_keys(all_keys) -> list[str]:
    """Every fourth TPC-H key (q1, q5, ..., q21), the reference's query
    keys and the curation keys."""
    tpch = sorted((k for k in all_keys if re.fullmatch(r"q\d+_\w+", k)),
                  key=lambda k: int(k[1:k.index("_")]))
    if len(tpch) != 22:
        raise RuntimeError(f"expected 22 TPC-H keys, found {len(tpch)}")
    return tpch[::4] + REFERENCE_KEYS + CURATION_KEYS


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def hd_quantile(values: list[float], p: float, grid: int = 4000) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean
    of all order statistics. A run has a few dozen operations of a fixed
    mix of keys, and the plain sample quantile jumps from one key's
    latency to its neighbour's when they trade places; this estimate
    moves smoothly."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(grid) + 0.5) / grid
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    cdf /= cdf[-1]
    weights = np.diff(cdf[np.rint(np.arange(n + 1) * grid / n).astype(int)])
    return float(weights @ x)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.rng = random.Random(seed)
        self.spark = None
        self.tracer = None
        self.latencies: list[float] = []
        self.failed = 0
        self.session_start_s = 0.0
        self.discover_s: list[float] = []
        self.etl_bytes_in = self.etl_bytes_out = self.etl_docs = 0
        self.etl_write_s = 0.0
        self.data = WORK / "data"
        self.out = WORK / "out"
        if trace:
            from tracing import Tracer
            self.tracer = Tracer()

    # ------------------------------------------------------------ setup
    def prepare_inputs(self) -> None:
        import datagen

        shutil.rmtree(self.data, ignore_errors=True)
        shutil.rmtree(self.out, ignore_errors=True)
        if self.workload == "batch_analytics":
            self.keys = batch_keys(self.queries)
            self.sf_warm = str(self.data / "sf0.001")
            self.sf_dir = str(self.data / "sf0.1")
            datagen.write_tables(self.sf_warm, 0.001, self.seed)
            datagen.write_tables(self.sf_dir, 0.1, self.seed)
        else:
            self.corpus = datagen.write_etl_corpus(
                str(self.data / "etl"), self.seed, ETL_DOCS)
            self.warm_corpus = datagen.write_etl_corpus(
                str(self.data / "etl-warmup"), self.seed + 1,
                ETL_WARMUP_DOCS)

    def set_up(self) -> None:
        """Session start and warm-up: everything ``setup_s`` charges.

        The ``batch_analytics`` warm-up runs each key once at sf0.001:
        the first call of a key in a session costs 2-3x a later one (JIT,
        code generation, Python UDF worker start). The ``etl_export``
        warm-up runs a small export, as the first export of a session is
        much slower than the next. No key of either workload builds an
        on-disk store under ``.scratch/``."""
        from parquet_generator_spark.operators import cache
        from parquet_generator_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session") if self.tracer else nullcontext():
            self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        qs = self.queries
        if self.workload == "etl_export":
            self.etl_cycle(self.warm_corpus, str(self.out / "warmup"),
                           random.Random(0), check=False, n_rules=1)
        else:
            for k in self.keys:
                t = time.perf_counter()
                qs[k](self.spark, self.sf_warm).collect()
                cache.release_all(self.spark)
                log(f"warm-up {k} {time.perf_counter() - t:.3f} s")
        self.setup_s = time.perf_counter() - t0

    # -------------------------------------------------------- operations
    def timed(self, label: str, fn, *args):
        """Run one operation; returns (ok, value)."""
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.operation() if tr else nullcontext({}) as ctx:
                value = fn(ctx, *args)
            ok = True
        except Exception as exc:  # one failing operation must not end the run
            log(f"{label}: {type(exc).__name__}: {str(exc)[:300]}")
            value, ok = None, False
        self.latencies.append(time.perf_counter() - t0)
        log(f"{label} {self.latencies[-1]:.3f} s")
        if not ok:
            self.failed += 1
        return ok, value

    def query_op(self, ctx, key: str):
        tr = self.tracer
        with tr.span("plans") if tr else nullcontext():
            df = self.queries[key](self.spark, self.sf_dir)
        ctx["df"] = df
        with tr.span("spark.driver") if tr else nullcontext():
            rows = df.collect()
        return df.columns, rows

    def run_queries(self) -> None:
        from oracle import Oracle, canon
        from parquet_generator_spark.operators import cache

        import __spark_entry__ as entry

        results = []
        measured = 0.0
        while measured < self.seconds:
            order = list(self.keys)
            self.rng.shuffle(order)
            for key in order:
                ok, value = self.timed(key, self.query_op, key)
                measured += self.latencies[-1]
                if self.tracer:
                    self.tracer.counts["cache.checkpoints"] += \
                        cache.tracked_count()
                    self.tracer.counts["cache.storage_blocks"] += \
                        cache.storage_block_count(self.spark)
                cache.release_all(self.spark)
                if ok:
                    results.append((key, canon(value[1], value[0])))
        self.peak_rss_mb = self.rss()
        oracle = Oracle(self.sf_dir, entry.oracle_sql())
        try:
            for key, got in results:
                if got != oracle.expected(key):
                    log(f"{key}: result differs from the DuckDB oracle")
                    self.failed += 1
        finally:
            oracle.close()

    # --------------------------------------------------------------- ETL
    def etl_cycle(self, corpus: dict, out_dir: str, rng: random.Random,
                  check: bool = True, n_rules: int | None = None) -> None:
        """discover_rules, then json_docs_to_parquet for each rule (or
        the first ``n_rules``) in a seeded order, then one
        dated_parquet_to_parquet pass."""
        import datagen

        op = self.timed if check else (lambda _, fn, *a: (True, fn({}, *a)))
        rules = list(datagen.RULES)
        ok, found = op("discover_rules", self.discover_op, corpus)
        if check:
            self.discover_s.append(self.latencies[-1])
        if check and ok:
            want = sorted((r, sum(c.values()))
                          for r, c in corpus["expected"].items())
            self.check(found == want, "discover_rules counts")
        rng.shuffle(rules)
        for rule in rules[:n_rules]:
            ok, path = op(f"export {rule}", self.export_op, corpus, rule,
                          out_dir)
            if check and ok:
                self.check_export(path, corpus["expected"][rule],
                                  corpus["json_bytes"], corpus["n_docs"])
        rule = rng.choice(rules)
        ok, path = op(f"dated {rule}", self.dated_op, corpus, rule,
                      out_dir + "-dated")
        if check and ok:
            self.check_export(path, corpus["dated_expected"][rule],
                              corpus["dated_bytes"], corpus["n_dated_rows"])

    def docs(self, corpus: dict):
        return (self.spark.read.text(corpus["docs_dir"])
                .withColumnRenamed("value", "doc"))

    def discover_op(self, ctx, corpus: dict):
        from pyspark.sql import functions as F

        from parquet_generator_spark import etl

        tr = self.tracer
        with tr.span("etl") if tr else nullcontext():
            rules = self.docs(corpus).select(
                F.from_json("doc", "rule_name STRING")["rule_name"]
                .alias("rule_name"))
            rows = etl.discover_rules(rules, "rule_name", size=10).collect()
        return sorted((r["key"], r["doc_count"]) for r in rows)

    def export_op(self, ctx, corpus: dict, rule: str, out_dir: str):
        from parquet_generator_spark import etl

        tr = self.tracer
        with tr.span("etl") if tr else nullcontext():
            return etl.json_docs_to_parquet(
                self.spark, self.docs(corpus), rule, out_dir,
                sample_ratio=ETL_SAMPLE_RATIO)

    def dated_op(self, ctx, corpus: dict, rule: str, out_dir: str):
        from parquet_generator_spark import etl

        tr = self.tracer
        with tr.span("etl") if tr else nullcontext():
            return etl.dated_parquet_to_parquet(
                self.spark, corpus["dated_dir"], corpus["dated_prefix"],
                len(corpus["dated_expected"][rule]),
                date.fromisoformat(corpus["dated_today"]), rule, out_dir)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            log(f"output check failed: {what}")
            self.failed += 1

    def check_export(self, path: str, expected: dict, bytes_in: int,
                     docs_in: int) -> None:
        """Row count per ``source_date`` partition, and a schema sidecar
        whose every field is ``["null", T]`` with a null default."""
        import pyarrow.parquet as pq

        got: dict[str, int] = {}
        out_bytes = 0
        for part in Path(path).glob("source_date=*"):
            day = part.name.split("=", 1)[1]
            for f in part.glob("*.parquet"):
                rows = pq.ParquetFile(f).metadata.num_rows
                got[day] = got.get(day, 0) + rows
                out_bytes += f.stat().st_size
        want = {d: n for d, n in expected.items() if n}
        with open(Path(path) / "_schema.asvc") as fh:
            nullable = _all_nullable(json.load(fh))
        self.check(got == want and nullable,
                   f"{path}: rows per day {got} (want {want}), "
                   f"all fields nullable: {nullable}")
        self.etl_bytes_in += bytes_in
        self.etl_bytes_out += out_bytes
        self.etl_docs += docs_in
        self.etl_write_s += self.latencies[-1]

    def run_etl(self) -> None:
        measured = 0.0
        while measured < self.seconds:
            n = len(self.latencies)
            self.etl_cycle(self.corpus, str(self.out / "export"), self.rng)
            measured += sum(self.latencies[n:])
        self.peak_rss_mb = self.rss()

    # ----------------------------------------------------------- metrics
    def rss(self) -> float:
        from pyspark import SparkContext

        return vm_hwm_mb("self") + vm_hwm_mb(SparkContext._gateway.proc.pid)

    def run(self) -> dict:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.prepare_inputs()
        self.set_up()
        log(f"set-up {self.setup_s:.2f} s")
        if self.tracer:
            self.tracer.bind(self.spark)
            self.patch_etl()
        if self.workload == "etl_export":
            self.run_etl()
        else:
            self.run_queries()
        return self.report()

    def report(self) -> dict:
        lat = self.latencies
        n = len(lat)
        if self.tracer:
            metrics = self.layer_metrics()
        else:
            values = {
                "setup_s": self.setup_s,
                "op_p50_s": hd_quantile(lat, 0.5),
                "op_p90_s": hd_quantile(lat, 0.9),
                "ops_per_s": n / sum(lat),
                "op_ok_ratio": (n - self.failed) / n,
            }
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END.items()}
        log(f"{n} operations, {self.failed} failed, "
            f"{sum(lat):.2f} s measured")
        return {"correct": self.failed == 0, "attempted": n,
                "failed": self.failed, "metrics": metrics}

    # ----------------------------------------------------------- tracing
    def patch_etl(self) -> None:
        """Wrap the names ``parquet_generator_spark.etl`` calls, so the
        schema and sink layers get spans; the package is not edited."""
        from parquet_generator_spark import etl

        tr = self.tracer
        infer, write = etl.infer_json_schema, etl.write_partitioned

        def traced_infer(*args, **kwargs):
            with tr.span("schema"):
                return infer(*args, **kwargs)

        def traced_write(*args, **kwargs):
            with tr.span("sinks"):
                path = write(*args, **kwargs)
            for f in Path(path).rglob("*.parquet"):
                tr.counts["sinks.files"] += 1
                tr.counts["sinks.bytes"] += f.stat().st_size
            return path

        etl.infer_json_schema = traced_infer
        etl.write_partitioned = traced_write

    def layer_metrics(self) -> dict:
        from tracing import PER_LAYER

        tr = self.tracer
        n = max(1, tr.n_ops)
        per_op = {k: v / n for k, v in tr.counts.items()}
        span_s = {}
        for s in tr.spans:
            span_s[s.name] = span_s.get(s.name, 0.0) + (s.end - s.start)
        values = {
            "session.start_s": self.session_start_s,
            "plans.build_s": span_s.get("plans", 0.0) / n,
            "spark.codegen.max_method_bytes": tr.max_method_bytes,
            "schema.infer_s": span_s.get("schema", 0.0) / n,
            "sinks.write_s": span_s.get("sinks", 0.0) / n,
            "etl.docs_per_s": (self.etl_docs / self.etl_write_s
                               if self.etl_write_s else 0.0),
            "etl.discover_s": (statistics.median(self.discover_s)
                               if self.discover_s else 0.0),
            "etl.bytes_out_per_in": (self.etl_bytes_out / self.etl_bytes_in
                                     if self.etl_bytes_in else 0.0),
            "memory.peak_rss_mb": self.peak_rss_mb,
            "trace.op_p50_s": hd_quantile(tr.op_latencies, 0.5),
            "trace.overhead_ms": tr.overhead_s * 1e3 / n,
        }
        for layer, s in tr.self_times().items():
            values[f"self.{layer}_ms"] = s * 1e3 / (
                1 if layer == "session" else n)
        return {k: {"value": values.get(k, per_op.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER.items()}

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc.stdin:
            proc.stdin.close()   # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _all_nullable(avro) -> bool:
    """Every record field is a ``["null", T]`` union with null default."""
    if isinstance(avro, list):
        return all(_all_nullable(t) for t in avro)
    if not isinstance(avro, dict):
        return True
    if avro.get("type") == "record":
        for f in avro["fields"]:
            t = f["type"]
            if not (isinstance(t, list) and t[0] == "null"
                    and "default" in f and f["default"] is None
                    and _all_nullable(t[1:])):
                return False
        return True
    if avro.get("type") == "array":
        return _all_nullable(avro["items"])
    if avro.get("type") == "map":
        return _all_nullable(avro["values"])
    return True


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "__spark_entry__.py").is_file() or \
            not (ROOT / "parquet_generator_spark").is_dir():
        log(f"no engine checkout at {ROOT}: __spark_entry__.py and "
            f"parquet_generator_spark/ are required")
        return 2

    for d in ("cwd", "tmp", "spark-local"):
        shutil.rmtree(WORK / d, ignore_errors=True)
        (WORK / d).mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # keep the JVM's temporary files (and its perf-data file, which
    # ignores java.io.tmpdir) inside the checkout
    os.environ["JDK_JAVA_OPTIONS"] = \
        f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    os.chdir(WORK / "cwd")
    sys.path[:0] = [str(ROOT), str(HERE)]

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
