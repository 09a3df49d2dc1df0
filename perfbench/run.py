"""Extraction benchmark: one closed-loop driver process on local[nproc].

Run from the root of a checkout:

    python3 perfbench/run.py --workload template --seed 1 --seconds 10 \
        --trace 0

Workloads are ``template`` and ``longtail`` (see NOTES.md). With
``--trace 0`` the run sets up once, from process start to a warm pass,
makes a few untimed warm-up passes, then times whole passes of
``extract_ordered`` into the noop sink for ``--seconds``, one pass at a
time, and checks every pass's output; it prints the end-to-end metrics.
``--trace 1`` is the separate traced run: Spark's event log is on, the
same turns also go through the web entry point, a few curation queries
run at the golden input, and a Spark-free kernel pass with spans gives
the per-layer metrics. The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. Inputs, run records, event logs and spans are written to
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

PROCESS_START = __import__("time").perf_counter()

import argparse
import glob
import html
import itertools
import json
import os
import statistics
import sys
import time
import traceback

from eventlog import SPAN_PROPERTY
from procfs import host_cpu_ticks, steal_frac

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

TURNS = {"template": 10_000, "longtail": 1_500}  # one pass: about 1-3 s
KERNEL_SAMPLE = {"template": 1_500, "longtail": 300}
# untimed passes after set-up and before the timed window: on template,
# pass time falls over the first ~8 passes of a run
WARM_PASSES = {"template": 8, "longtail": 1}
CHECK_SAMPLE = 150      # turns per pass checked against the Spark-free kernel
WEB_PASSES = 2          # traced passes through the web entry point
SCAN_PASSES = 3
GOLDEN_INPUT = "sf0.001"    # scale whose committed goldens the check reads
# curation operators over the synthetic turns alone: no star-schema table
CURATION = ("conversation_dedup", "conversation_line_repair",
            "conversation_curation_funnel")
QUERY_PASSES = 2
DRIVER_MEMORY = "1g"


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # for every JVM the launch starts: no hsperfdata file outside WORK
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_TURNS", None)
    sys.path.insert(0, ROOT)


def start_session(cores: int, event_log: bool):
    from material_parsers_spark.pipeline.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(app_name="perfbench", master=f"local[{cores}]",
                         shuffle_partitions=cores, extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop Spark, end the driver JVM and wait for every process it
    started (the Python worker daemon and its workers) to end."""
    from pyspark import SparkContext

    from procfs import descendants, wait_gone

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:   # TimeoutExpired: do not leave it running
            gateway.proc.kill()
            gateway.proc.wait()
    wait_gone(started, timeout=30)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def _checksum():
    """Hash of one extraction output row; passes compare xors of it."""
    from pyspark.sql import functions as F

    return F.xxhash64("conv_id", "turn_idx", "turn_rank",
                      F.to_json("spans"), F.to_json("materials"))


def unwrap_page(page: str) -> str:
    """The turn text a page from ``wrap_turns_in_html`` was built from."""
    body = page.partition("<article><p>")[2].rpartition("</p></article>")[0]
    return html.unescape(body)


class Workload:
    """One workload's seeded input, its entry points and its checks."""

    def __init__(self, name: str, seed: int, cores: int):
        self.name, self.seed, self.cores = name, seed, cores
        self.turns = TURNS[name]
        self.path = os.path.join(WORK, f"input-{name}-{seed}")
        self.pages_path = self.path + "-web"
        self.modulus = max(1, self.turns // CHECK_SAMPLE)
        self.reference = None      # xor of the sample's Spark-free rows
        self.all_xor = None        # xor of the first correct pass

    def sampled(self):
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(self.seed)),
                      F.lit(self.modulus)) == 0

    def write_input(self, spark) -> None:
        """The seeded turns as parquet in ``cores`` files, one scan split
        each."""
        from pyspark.sql import functions as F

        from material_parsers_spark.pipeline.transcripts import generate_turns

        spark.sparkContext.setLocalProperty(SPAN_PROPERTY, "write-input")
        if self.name == "longtail":
            import longtail

            rows = longtail.balanced_splits(
                longtail.generate(self.seed, self.turns), self.cores)
            df = spark.createDataFrame(rows, longtail.SCHEMA)
        else:
            # the generator is deterministic; the seed sets the layout:
            # which split and position each turn lands in
            key = F.xxhash64("conv_id", "turn_idx", F.lit(self.seed))
            df = (generate_turns(spark, self.turns, partitions=self.cores)
                  .repartition(self.cores, key)
                  .sortWithinPartitions(key))
        df.write.mode("overwrite").parquet(self.path)

    def write_pages(self, spark) -> None:
        """The same turns wrapped as web pages, split for split."""
        from material_parsers_spark.pipeline.web import wrap_turns_in_html

        spark.sparkContext.setLocalProperty(SPAN_PROPERTY, "write-pages")
        wrap_turns_in_html(self.read(spark)).write.mode("overwrite") \
            .parquet(self.pages_path)

    def read(self, spark, pages: bool = False):
        return spark.read.parquet(self.pages_path if pages else self.path)

    def output(self, spark, patterns, pages: bool):
        from material_parsers_spark.pipeline.extraction import extract_ordered
        from material_parsers_spark.pipeline.web import (
            extract_materials_from_html,
        )

        if pages:
            return extract_materials_from_html(self.read(spark, pages=True),
                                               patterns=patterns)
        return extract_ordered(self.read(spark), patterns=patterns,
                               include_tokens=False)

    def run_pass(self, spark, patterns, label: str,
                 pages: bool = False) -> dict:
        """One pass into the noop sink. An Observation carries the row
        count and the xor of row hashes, overall and on the sample."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark.sparkContext.setLocalProperty(SPAN_PROPERTY, label)
        observation = Observation(label)
        h = _checksum()
        (self.output(spark, patterns, pages)
         .observe(observation,
                  F.count(F.lit(1)).alias("rows"),
                  F.bit_xor(h).alias("all"),
                  F.bit_xor(F.when(self.sampled(), h)).alias("sample"))
         .write.format("noop").mode("overwrite").save())
        return dict(observation.get)

    def build_reference(self, spark, patterns) -> None:
        """Xor of row hashes over the sample, from the Spark-free
        ``extract_turn`` on the sampled turns."""
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher
        from material_parsers_spark.kernel.turns import extract_turn
        from material_parsers_spark.pipeline.schemas import (
            MATERIAL_TYPE,
            SPAN_TYPE,
        )

        schema = T.StructType([
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("turn_rank", T.IntegerType()),
            T.StructField("spans", T.ArrayType(SPAN_TYPE)),
            T.StructField("materials", T.ArrayType(MATERIAL_TYPE)),
        ])
        spark.sparkContext.setLocalProperty(SPAN_PROPERTY, "reference")
        matcher = TokenTrieMatcher(patterns)
        rows = []
        for row in (self.read(spark).where(self.sampled())
                    .select("conv_id", "turn_idx", "text").collect()):
            out = extract_turn(row.text, matcher, include_tokens=False)
            rows.append((row.conv_id, row.turn_idx, row.turn_idx + 1,
                         out["spans"], out["materials"]))
        # through pandas, so that Arrow converts these rows the way it
        # converts the UDF's output: map entries keep the kernel's order
        frame = pd.DataFrame(rows, columns=schema.fieldNames())
        self.reference = (spark.createDataFrame(frame, schema)
                          .select(F.bit_xor(_checksum())).first()[0])

    def check(self, observed: dict) -> bool:
        """Correct when every turn came out, the sampled rows hash like
        the Spark-free kernel's, and the whole output hashes like the
        first correct pass (the web entry point's included)."""
        ok = (observed["rows"] == self.turns
              and observed["sample"] == self.reference)
        if ok and self.all_xor is None:
            self.all_xor = observed["all"]
        return ok and observed["all"] == self.all_xor


def _value_hash(rows, columns) -> tuple:
    """Row count and the oracle tool's order-insensitive value hash."""
    saved = list(sys.path)      # the tool module edits sys.path on import
    from tools.check_oracles import value_hash
    sys.path[:] = saved
    return len(rows), value_hash(rows, [c.lower() for c in columns])


def query_result(spark, query: str) -> tuple:
    """A registered query at the golden input, run on Spark and hashed."""
    from material_parsers_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES[query](spark, os.path.join(WORK, GOLDEN_INPUT))
    return _value_hash([tuple(r) for r in df.collect()], df.columns)


def oracle_result(query: str) -> tuple:
    """The query's oracle at the golden input, run on DuckDB and hashed:
    the committed golden, or the computed oracle over a committed one."""
    import duckdb

    from material_parsers_spark.queries import (
        GOLDEN_INPUT_ORACLE_TEMPLATES,
        GOLDEN_ORACLE_FIXTURES,
        golden_path,
    )

    if query in GOLDEN_ORACLE_FIXTURES:
        sql = "SELECT * FROM read_parquet('{path}')"
        fixture = GOLDEN_ORACLE_FIXTURES[query]
    else:
        sql, fixture = GOLDEN_INPUT_ORACLE_TEMPLATES[query]
    result = duckdb.connect().execute(
        sql.replace("{path}", golden_path(GOLDEN_INPUT, fixture)))
    return _value_hash(result.fetchall(), [d[0] for d in result.description])


def golden_check(spark, query: str) -> bool:
    """A registered query at the golden input hash-matches its oracle."""
    spark.sparkContext.setLocalProperty(SPAN_PROPERTY, "golden-" + query)
    return query_result(spark, query) == oracle_result(query)


class Ledger:
    """Checked passes: attempted and failed."""

    def __init__(self):
        self.attempted = self.failed = 0

    def record(self, label: str, check) -> bool:
        self.attempted += 1
        try:
            ok = bool(check())
        except Exception:   # a raising pass or check is a failed pass
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"pass {label}: FAILED", file=sys.stderr)
        return ok


def busy_rate(seconds: float = 0.25) -> float:
    """Iterations per second of a pure-Python loop on one core."""
    count, deadline = 0, time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        for _ in range(1000):
            count += 1
    return count / seconds


# ---------------------------------------------------------------------------
# timed run
# ---------------------------------------------------------------------------

def timed_run(workload: Workload, seconds: float, ledger: Ledger) -> dict:
    from material_parsers_spark.pipeline.extraction import load_full_patterns

    from procfs import PeakRss, tree_usage

    pid = os.getpid()
    # set-up, from process start: JVM launch and session start, the input
    # write, pattern load, and a warm pass (worker boot, trie build)
    spark = start_session(workload.cores, event_log=False)
    session = time.perf_counter()
    workload.write_input(spark)
    written = time.perf_counter()
    patterns = load_full_patterns()
    warm = workload.run_pass(spark, patterns, "warm")
    ready = time.perf_counter()

    workload.build_reference(spark, patterns)
    ledger.record("warm", lambda: workload.check(warm))
    warm_s = []
    for index in range(WARM_PASSES[workload.name]):
        label = f"warm-{index + 1}"
        started = time.perf_counter()
        observed = workload.run_pass(spark, patterns, label)
        warm_s.append(time.perf_counter() - started)
        ledger.record(label, lambda: workload.check(observed))

    pass_s, processed = [], 0
    cpu_before = tree_usage(pid)[0]
    with PeakRss(pid) as rss:
        window = time.perf_counter()
        for index in itertools.count():
            label = f"pass-{index}"
            started = time.perf_counter()
            try:
                observed = workload.run_pass(spark, patterns, label)
            except Exception:   # recorded as a failed pass below
                traceback.print_exc()
                observed = None
            elapsed = time.perf_counter() - started
            processed += workload.turns
            if ledger.record(label, lambda: workload.check(observed)):
                pass_s.append(elapsed)
            if time.perf_counter() - window >= seconds:
                break
    cpu_s = tree_usage(pid)[0] - cpu_before
    timed = time.perf_counter()
    # the sample check compares the pipeline with the kernel; this one
    # compares the kernel's output with a fixed golden
    ledger.record("golden", lambda: golden_check(spark, "extract_materials"))
    stop_jvm(spark)
    rates = [workload.turns / s for s in pass_s] or [0.0]
    return {
        "metrics": {
            "setup_s": (ready - PROCESS_START, "s"),
            "items_per_s": (statistics.median(rates), "1/s"),
            "cpu_s_per_kitem": (cpu_s / (processed / 1000), "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        },
        "record": {
            "warm_s": warm_s, "pass_s": pass_s, "cpu_s": cpu_s,
            "setup_phases_s": {"session": session - PROCESS_START,
                               "write": written - session,
                               "patterns_warm_pass": ready - written},
            "marks_s": {"ready": ready - PROCESS_START,
                        "timed": timed - PROCESS_START},
        },
    }


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

def _udf_stage_tasks(entry: dict) -> list:
    """Tasks of the pass's busiest stage (the one running the UDF)."""
    by_stage: dict = {}
    for task in entry["tasks"]:
        by_stage.setdefault(task["stage"], []).append(task)
    return max(by_stage.values(), key=lambda ts: sum(t["run_ms"] for t in ts))


def spark_layers(workload: Workload, seconds: float, ledger: Ledger) -> dict:
    """Traced Spark passes; returns the pass timings, the parsed event
    log, and the texts and pages of the kernel sample."""
    import eventlog
    from material_parsers_spark.pipeline.extraction import load_full_patterns

    marks = {}

    def mark(name):
        marks[name] = time.perf_counter() - PROCESS_START

    spark = start_session(workload.cores, event_log=True)
    app_id = spark.sparkContext.applicationId
    workload.write_input(spark)
    patterns = load_full_patterns()
    warm = workload.run_pass(spark, patterns, "warm")
    workload.build_reference(spark, patterns)
    ledger.record("warm", lambda: workload.check(warm))
    mark("ready")

    pass_s = []
    window = time.perf_counter()
    while not pass_s or time.perf_counter() - window < seconds:
        label = f"pass-{len(pass_s)}"
        started = time.perf_counter()
        observed = workload.run_pass(spark, patterns, label)
        pass_s.append(time.perf_counter() - started)
        ledger.record(label, lambda: workload.check(observed))
    mark("passes")

    workload.write_pages(spark)
    web_s = []
    for i in range(WEB_PASSES + 1):    # the first one warms the path up
        started = time.perf_counter()
        observed = workload.run_pass(spark, patterns, f"web-{i}", pages=True)
        web_s.append(time.perf_counter() - started)
        ledger.record(f"web-{i}", lambda: workload.check(observed))
    mark("web")

    scan_s = []
    for i in range(SCAN_PASSES):
        spark.sparkContext.setLocalProperty(SPAN_PROPERTY, f"scan-{i}")
        started = time.perf_counter()
        (workload.read(spark).select("conv_id", "turn_idx", "text")
         .write.format("noop").mode("overwrite").save())
        scan_s.append(time.perf_counter() - started)
    spark.sparkContext.setLocalProperty(SPAN_PROPERTY, "collect")
    splits = workload.read(spark).rdd.getNumPartitions()
    ledger.record("splits", lambda: splits >= workload.cores)
    scan_bytes = sum(os.path.getsize(f) for f in
                     glob.glob(os.path.join(workload.path, "*.parquet")))
    mark("scan")
    # extract_materials is checked in every timed run
    ledger.record("golden-web", lambda: golden_check(
        spark, "web_extract_materials"))
    mark("golden")
    query_s = curation_passes(spark, ledger)
    mark("queries")

    texts = [r.text for r in workload.read(spark).select("text").collect()]
    pages = [r.text for r in
             workload.read(spark, pages=True).select("text").collect()]
    stop_jvm(spark)
    mark("stopped")

    log = os.path.join(WORK, f"eventlog-{workload.name}-{workload.seed}.json")
    os.replace(glob.glob(os.path.join(WORK, "eventlog", app_id + "*"))[0],
               log)
    return {"pass_s": pass_s, "web_s": web_s[1:], "scan_s": scan_s,
            "splits": splits, "scan_bytes": scan_bytes,
            "passes": eventlog.summarize(eventlog.read_events(log)),
            "texts": texts, "pages": pages, "patterns": patterns,
            "query_s": query_s, "marks_s": marks}


def curation_passes(spark, ledger: Ledger) -> list:
    """``QUERY_PASSES`` passes over the ``CURATION`` queries at the golden
    input, each result checked against its oracle. Returns, per pass, the
    seconds of each query."""
    expected = {query: oracle_result(query) for query in CURATION}
    passes = []
    for i in range(QUERY_PASSES):
        seconds = {}
        for query in CURATION:
            label = f"query-{i}-{query}"
            spark.sparkContext.setLocalProperty(SPAN_PROPERTY, label)
            started = time.perf_counter()
            ledger.record(label, lambda: query_result(spark, query)
                          == expected[query])
            seconds[query] = time.perf_counter() - started
        passes.append(seconds)
    return passes


def traced_run(workload: Workload, seconds: float, ledger: Ledger) -> dict:
    import kernel_trace
    from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher

    spark_run = spark_layers(workload, seconds, ledger)
    passes = spark_run["passes"]
    texts, pages = spark_run["texts"], spark_run["pages"]
    distinct_frac = len(set(texts)) / len(texts)

    # the kernel sample: every k-th turn in length order, so that the
    # long tail is represented at its share
    order = sorted(range(len(texts)), key=lambda i: (len(texts[i]), i))
    step = max(1, len(order) // KERNEL_SAMPLE[workload.name])
    chosen = order[step // 2::step]
    pages_by_text = {unwrap_page(p): p for p in pages}
    texts = [texts[i] for i in chosen]
    pages = [pages_by_text[t] for t in texts]

    matcher = TokenTrieMatcher(spark_run["patterns"])
    kernel_trace.untraced_pass(texts, matcher)          # warms caches
    plain = kernel_trace.untraced_pass(texts, matcher)
    tracer, traced_wall, outputs = kernel_trace.traced_pass(
        texts, pages, matcher)
    stages = kernel_trace.summarize(tracer, outputs)
    self_us = stages["self_us"]
    stage_sum = sum(self_us[s] for s in kernel_trace.STAGES if s != "web")
    ledger.record("kernel-self-times-add-up", lambda: abs(
        stage_sum + self_us["turns"] - stages["extract_turn_us"])
        <= 1e-6 * stages["extract_turn_us"])

    timed = [label for label in passes if label.startswith("pass-")]

    def per_pass(fn):
        return statistics.median(fn(passes[label]) for label in timed)

    def task_sum(key):
        return lambda entry: sum(t[key] for t in entry["tasks"])

    def arrow(key):
        return lambda entry: entry["arrow"].get(key, 0)

    def task_skew(entry):
        runs = [t["run_ms"] for t in _udf_stage_tasks(entry)]
        return max(runs) / max(1, statistics.median(runs))

    n = len(texts)
    query_s = spark_run["query_s"]
    pass_median = statistics.median(spark_run["pass_s"])
    kernel_busy_s = statistics.fmean(plain["us"]) * workload.turns / 1e6
    warm_arrow = passes["warm"]["arrow"]
    metrics = {
        "scan.pass_s": (statistics.median(spark_run["scan_s"]), "s"),
        "scan.bytes": (spark_run["scan_bytes"], "B"),
        "scan.splits": (spark_run["splits"], "count"),
        "jvm.executor_run_s": (per_pass(task_sum("run_ms")) / 1e3, "s"),
        "jvm.gc_s": (per_pass(task_sum("gc_ms")) / 1e3, "s"),
        "jvm.tasks": (per_pass(lambda e: len(e["tasks"])), "count"),
        "jvm.task_skew": (per_pass(task_skew), "ratio"),
        "jvm.shuffle_bytes": (per_pass(task_sum("shuffle_bytes")), "B"),
        "jvm.spill_bytes": (per_pass(task_sum("spill_bytes")), "B"),
        "jvm.peak_exec_mem_mb": (per_pass(lambda e: max(
            t["peak_exec_mem"] for t in e["tasks"])) / 2**20, "MB"),
        "arrow.bytes_to_python": (per_pass(arrow("bytes_to_python")), "B"),
        "arrow.bytes_from_python": (per_pass(arrow("bytes_from_python")),
                                    "B"),
        "arrow.rows_from_python": (per_pass(arrow("rows_from_python")),
                                   "count"),
        "arrow.python_s": (per_pass(arrow("python_ns")) / 1e9, "s"),
        "arrow.python_boot_s": ((warm_arrow.get("boot_ns", 0)
                                 + warm_arrow.get("init_ns", 0)) / 1e9, "s"),
        "arrow.outside_kernel_frac": (
            1 - kernel_busy_s / (pass_median * workload.cores), "frac"),
        "kernel.turns.us_p50": (kernel_trace.percentile(plain["us"], 50),
                                "us"),
        "kernel.turns.us_p99": (kernel_trace.percentile(plain["us"], 99),
                                "us"),
        "kernel.turns.self_us": (self_us["turns"], "us"),
        "kernel.turns.traced_us": (stages["extract_turn_us"], "us"),
        "kernel.turns.items_per_s_1core": (n / plain["wall_s"], "1/s"),
        "kernel.turns.exceptions": (plain["exceptions"], "count"),
        "kernel.tokenizer.us": (self_us["tokenizer"], "us"),
        "kernel.tokenizer.tokens": (stages["tokens"] / n, "1/turn"),
        "kernel.gazetteer.us": (self_us["gazetteer"], "us"),
        "kernel.gazetteer.matches": (stages["matches"] / n, "1/turn"),
        "kernel.gazetteer.build_s": (
            kernel_trace.trie_build_s(spark_run["patterns"]), "s"),
        "kernel.tagger.us": (self_us["tagger"], "us"),
        "kernel.tagger.spans": (stages["tagger_spans"] / n, "1/turn"),
        "kernel.materials.us": (self_us["materials"], "us"),
        "kernel.materials.records": (stages["records"] / n, "1/turn"),
        "kernel.formulas.us": (self_us["formulas"], "us"),
        "kernel.formulas.calls": (stages["formula_calls"] / n, "1/turn"),
        "kernel.doc.us": (self_us["doc"], "us"),
        "kernel.doc.unused_frac": (stages["unused_doc_frac"], "frac"),
        "kernel.tc_classifier.us": (self_us["tc_classifier"], "us"),
        "kernel.tc_classifier.linkable": (stages["linkable"] / n, "1/turn"),
        "kernel.resolvers.us": (self_us["resolvers"], "us"),
        "kernel.resolvers.links": (stages["links"] / n, "1/turn"),
        "kernel.resolvers.configs_resolved_frac": (
            stages["configs_resolved_frac"], "frac"),
        "kernel.web.us": (self_us["web"], "us"),
        "kernel.web.kept_block_frac": (stages["kept_block_frac"], "frac"),
        "pipeline.extraction.distinct_frac": (distinct_frac, "frac"),
        **{f"queries.{query}.s": (statistics.median(
            p[query] for p in query_s), "s") for query in CURATION},
        "queries.last_over_first": (
            sum(query_s[-1].values()) / sum(query_s[0].values()), "ratio"),
        "web.items_per_s": (workload.turns
                            / statistics.median(spark_run["web_s"]), "1/s"),
        "trace.items_per_s": (workload.turns / pass_median, "1/s"),
        "trace.kernel_overhead_frac": (traced_wall / plain["wall_s"] - 1,
                                       "frac"),
    }
    with open(os.path.join(
            WORK, f"spans-{workload.name}-{workload.seed}.json"), "w") as f:
        json.dump({"spark": passes,
                   "kernel": [s[:5] for s in tracer.spans]}, f)
    return {"metrics": metrics,
            "record": {"pass_s": spark_run["pass_s"],
                       "web_s": spark_run["web_s"],
                       "scan_s": spark_run["scan_s"], "query_s": query_s,
                       "kernel_sample": n, "marks_s": {
                           **spark_run["marks_s"],
                           "end": time.perf_counter() - PROCESS_START}}}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(TURNS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "material_parsers_spark")):
        print("run from the root of a checkout: material_parsers_spark/ "
              "is missing", file=sys.stderr)
        return 2
    _prepare_environment()
    cores = len(os.sched_getaffinity(0))
    host = {"nproc": cores, "loadavg_before": os.getloadavg()}
    ticks = host_cpu_ticks()
    workload = Workload(args.workload, args.seed, cores)
    ledger = Ledger()
    run = traced_run if args.trace else timed_run
    result = run(workload, args.seconds, ledger)
    host["loadavg_after"] = os.getloadavg()
    host["steal_frac"] = steal_frac(ticks, host_cpu_ticks())
    # after the run, so that it does not count in setup_s
    host["busy_rate_per_core"] = busy_rate()

    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": host, **result["record"],
              "attempted": ledger.attempted, "failed": ledger.failed}
    with open(os.path.join(
            WORK, f"run-{args.workload}-{args.seed}-t{args.trace}.json"),
            "w") as f:
        json.dump(record, f)
    for name, (value, unit) in result["metrics"].items():
        print(f"{name:40s} {value:14.6g} {unit}")
    print(f"{'failed_frac':40s} "
          f"{ledger.failed / ledger.attempted:14.6g} frac "
          f"({ledger.failed} of {ledger.attempted} checked passes)")
    print("host", json.dumps(host))
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
