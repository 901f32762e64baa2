"""The operations the benchmark times, written as a user of the package
calls them (the ``tools/run_pipeline.py`` sequence), plus the Spark
session lifecycle around them."""

from __future__ import annotations

import os
import time

from host import tree_pids

# HotSpot writes /tmp/hsperfdata_<user>/<pid> whatever java.io.tmpdir
# says; the benchmark writes only inside its checkout.
NO_PERF_DATA = "-XX:-UsePerfData"
# The driver JVM's unified log: initial heap and every collection's
# heap use and committed size (read by host.RssSampler).
GC_LOG = "jvm-gc.log"


def start_session(work: str, master: str, event_log: bool = False):
    """Start a session through the package's ``get_spark`` with every
    scratch location inside ``work``. Returns (spark, seconds)."""
    from information_extraction_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} {NO_PERF_DATA} "
            f"-Xlog:gc=info,gc+init=info:file={os.path.join(work, GC_LOG)}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process
    this one started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def release_persisted(spark) -> None:
    """Drop every cached DataFrame, then unpersist every RDD still
    persisted (``clearCache`` does not reach RDDs such as those
    ``localCheckpoint`` keeps)."""
    spark.catalog.clearCache()
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in list(persisted.keySet()):
        persisted.get(rdd_id).unpersist(True)


class BroadcastLog:
    """Records the id of every broadcast the session creates, so the
    benchmark can show each build shipped a fresh KB broadcast (a cold
    kernel memo) without touching the package."""

    def __init__(self, spark) -> None:
        self.ids: list[int] = []
        sc = spark.sparkContext
        original = sc.broadcast

        def recording(value):
            bc = original(value)
            self.ids.append(bc._jbroadcast.id())
            return bc

        sc.broadcast = recording

    def mark(self) -> int:
        return len(self.ids)

    def since(self, mark: int) -> list[int]:
        return self.ids[mark:]


def read_inputs(spark, inputs: dict) -> dict:
    from information_extraction_spark.sources import tables

    return {
        "transcripts": tables.read_transcripts(spark, inputs["transcripts"]),
        "kb": tables.read_kb(spark, inputs["kb"]),
        "schemas": tables.read_schemas(spark, inputs["schemas"]),
        "alias": tables.read_alias_dict(spark, inputs["alias"]),
    }


def build(spark, inputs: dict, out: str) -> None:
    """Read -> extract_triples -> canonicalize_triples -> write_graph."""
    from information_extraction_spark.operators.linking import canonicalize_triples
    from information_extraction_spark.plans.pipeline import extract_triples
    from information_extraction_spark.sources import tables

    src = read_inputs(spark, inputs)
    triples = extract_triples(spark, src["transcripts"], src["kb"], src["schemas"])
    triples = canonicalize_triples(triples, src["alias"])
    tables.write_graph(triples, out)


def evaluate(spark, inputs: dict):
    """``calc_pr`` with the alias dictionary on the generated pair."""
    from information_extraction_spark.operators.evaluation import calc_pr
    from information_extraction_spark.sources import tables

    pred = spark.read.parquet(inputs["pred"])
    gold = spark.read.parquet(inputs["gold"])
    alias = tables.read_alias_dict(spark, inputs["alias"])
    return calc_pr(pred, gold, alias).collect()[0]


def lookup(spark, graph: str, predicate: str) -> list:
    from information_extraction_spark.sources import tables

    return tables.read_graph_predicate(spark, graph, predicate).collect()
