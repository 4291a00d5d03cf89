"""One measured process: set up Spark, run a workload, print one JSON line.

``run.py`` starts this file in a fresh process group. Set-up is timed
from the first line of this file until the session is up, its first job
has run, the workload's inputs are open and its untimed warm-up is done.
The workload is then measured; with ``--trace 1`` every operation is also
spanned (see ``spans.py``) and the spans are written to
``.perfbench_out/trace-<workload>-seed<N>.json`` under the repository root.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import facade  # noqa: E402
from spans import JobCounter, Tracer, patch_spark_actions  # noqa: E402

TRACE_DIR = os.path.join(os.path.dirname(HERE), ".perfbench_out")
# Layers whose self time the traced run reports, per operation.
TRACED_LAYERS = (
    "api",
    "operators.kv",
    "sql.dialect",
    "cypher.parser",
    "cypher.compiler",
    "queries",
    "spark.collect",
    "spark.checkpoint",
)


def _pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def _geomean(xs) -> float:
    return float(np.exp(np.mean(np.log(xs))))


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


# Nominal time of one measured round on a quiet 4-core host: a facade
# block, a batch pass.
FACADE_BLOCK_S = 10.0
BATCH_PASS_S = 5.0


def _rounds(seconds: float, round_s: float) -> int:
    """Whole rounds measured: as many as fill ``seconds`` at the nominal
    round time. The count does not depend on how fast the run goes, so
    every run measures the same work."""
    return max(1, math.ceil(seconds / round_s))


def setup(workload: str, data_dir: str):
    """-> (spark, workload state, per-layer set-up timings)."""
    from hash_db_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    t_import = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    t_session = time.perf_counter()
    spark.range(64).selectExpr("sum(id)").collect()
    t_first = time.perf_counter()
    if workload == "facade_oltp":
        from hash_db_spark.api import HashDb

        state = HashDb(spark)
    else:
        from hash_db_spark.catalog import load_tables
        from hash_db_spark.queries import all_queries

        load_tables(spark, data_dir)
        state = all_queries()
    return spark, state, {
        "session.get_spark_s": t_session - t_import,
        "spark.first_job_s": t_first - t_session,
    }


def _install_patches(tracer: Tracer) -> None:
    from hash_db_spark.cypher.compiler import CypherCompiler
    from hash_db_spark.cypher.parser import CypherParser
    from hash_db_spark.operators import kv
    from hash_db_spark.sql.dialect import SqlEngine

    for fn in ("kv_set", "kv_get", "kv_clear", "query_begins",
               "query_between", "both_between"):
        tracer.wrap(kv, fn, "operators.kv")
    tracer.wrap(
        SqlEngine, "sql", "sql.dialect",
        lambda _self, text: "select" if text.lstrip().lower().startswith("select") else "mutate",
    )
    tracer.wrap(CypherParser, "parse", "cypher.parser")
    tracer.wrap(CypherCompiler, "run", "cypher.compiler")
    patch_spark_actions(tracer)


class Runner:
    """Runs operations, timed, optionally spanned and job-counted."""

    def __init__(self, tracer: Tracer | None, counter: JobCounter | None):
        self.tracer = tracer
        self.counter = counter
        self.records: list[dict] = []  # timed operations only
        self.failures: list[str] = []

    def run(self, layer: str, name: str, fn, timed: bool):
        counts = {}
        err = None
        result = None
        t = time.perf_counter()
        try:
            if self.tracer is None:
                result = fn()
            else:
                with self.tracer.span(layer, name), self.counter.group() as counts:
                    result = fn()
        except Exception as e:  # an operation that raises counts as failed
            err = e
        sec = time.perf_counter() - t
        if timed:
            self.records.append({"name": name, "sec": sec, **counts})
        return result, err

    def start_measuring(self) -> None:
        """Forget the warm-up's spans: per-layer figures cover timed
        operations only."""
        if self.tracer is not None:
            self.tracer.spans.clear()

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)


def run_facade(db, seed: int, seconds: float, runner: Runner) -> dict:
    blocks = facade.make_stream(seed, 1 + _rounds(seconds, FACADE_BLOCK_S))
    attempted = 0

    def one(op, timed: bool) -> None:
        nonlocal attempted
        verb, args, want = op
        got, err = runner.run("api", verb, lambda: facade.call(db, verb, args), timed)
        attempted += 1
        if err is not None:
            runner.fail(f"{verb}{args}: {err!r}")
        elif got != want:
            runner.fail(f"{verb}{args}: got {got!r}, want {want!r}")

    t = time.perf_counter()
    for op in blocks[0]:
        one(op, timed=False)
    warm_s = time.perf_counter() - t
    ready_s = time.perf_counter() - T0

    runner.start_measuring()
    start = time.perf_counter()
    for block in blocks[1:]:
        for op in block:
            one(op, timed=True)
    measured = time.perf_counter() - start
    lat = [r["sec"] for r in runner.records]
    return {
        "attempted": attempted,
        "warm_s": warm_s,
        "ready_s": ready_s,
        "e2e": {
            "ops_per_s": len(lat) / measured,
            "op_geomean_ms": _geomean(lat) * 1e3,
        },
    }


def run_batch(spark, registry, data_dir: str, seed: int, seconds: float,
              runner: Runner) -> dict:
    rng = random.Random(seed)
    attempted = 0
    first_results: dict[str, tuple] = {}
    pass_secs: list[float] = []
    pass_geomeans: list[float] = []

    def one_pass(timed: bool) -> None:
        nonlocal attempted
        order = list(batch.QUERIES)
        rng.shuffle(order)
        for name in order:
            q = registry[name]
            box = {}

            def execute():
                t = time.perf_counter()
                df = q.fn(spark, data_dir)
                box["build"] = time.perf_counter() - t
                box["df"] = df
                return df.collect()

            rows, err = runner.run("queries", name, execute, timed)
            attempted += 1
            if timed:
                runner.records[-1]["build"] = box.get("build", 0.0)
            if err is not None:
                runner.fail(f"{name}: {err!r}")
            elif timed and name not in first_results:
                first_results[name] = (box["df"].columns, [tuple(r) for r in rows])

    t = time.perf_counter()
    one_pass(timed=False)
    warm_s = time.perf_counter() - t
    ready_s = time.perf_counter() - T0

    runner.start_measuring()
    for _ in range(_rounds(seconds, BATCH_PASS_S)):
        t = time.perf_counter()
        n_before = len(runner.records)
        one_pass(timed=True)
        pass_secs.append(time.perf_counter() - t)
        pass_geomeans.append(_geomean([r["sec"] for r in runner.records[n_before:]]))
    for msg in batch.check_against_oracle(registry, data_dir, first_results):
        runner.fail(msg)
    # passes repeat one mix, so the median pass stands for the run
    return {
        "attempted": attempted,
        "warm_s": warm_s,
        "ready_s": ready_s,
        "passes": len(pass_secs),
        "e2e": {
            "ops_per_s": len(batch.QUERIES) / float(np.median(pass_secs)),
            "op_geomean_ms": float(np.median(pass_geomeans)) * 1e3,
        },
    }


def facade_layers(db, runner: Runner, tracer: Tracer) -> dict:
    out = {}
    by_verb = defaultdict(list)
    by_class = defaultdict(list)
    for r in runner.records:
        by_verb[r["name"]].append(r)
        by_class[facade.VERB_CLASS[r["name"]]].append(r)
    for verb, recs in by_verb.items():
        out[f"api.{verb}.p50_ms"] = _pct([r["sec"] for r in recs], 50) * 1e3
    for cls, recs in by_class.items():
        secs = [r["sec"] for r in recs]
        out[f"api.{cls}.p50_ms"] = _pct(secs, 50) * 1e3
        out[f"api.{cls}.p90_ms"] = _pct(secs, 90) * 1e3
        out[f"spark.jobs_per_op.{cls}"] = _mean([r["jobs"] for r in recs])
        out[f"spark.tasks_per_op.{cls}"] = _mean([r["tasks"] for r in recs])
    if by_class["kv_write"]:
        out["api.kv_write.max_ms"] = max(r["sec"] for r in by_class["kv_write"]) * 1e3
    out["api.kv_partitions_end"] = db.kv.rdd.getNumPartitions()
    out["api.kv_rows_end"] = db.kv.count()
    ms = lambda xs: _mean(xs) * 1e3  # noqa: E731
    out["operators.kv.build_ms"] = ms(tracer.durations("operators.kv", self_only=True))
    out["sql.dialect.build_ms"] = ms(tracer.durations("sql.dialect", "select", self_only=True))
    out["sql.dialect.mutate_ms"] = ms(tracer.durations("sql.dialect", "mutate"))
    out["cypher.parser.build_ms"] = ms(tracer.durations("cypher.parser", self_only=True))
    out["cypher.compiler.build_ms"] = ms(tracer.durations("cypher.compiler", self_only=True))
    return out


def batch_layers(registry, runner: Runner, passes: int) -> dict:
    out = {}
    for fam in batch.FAMILIES:
        recs = [r for r in runner.records if batch.family(registry[r["name"]]) == fam]
        out[f"queries.{fam}.build_s"] = sum(r["build"] for r in recs) / passes
        out[f"queries.{fam}.exec_s"] = sum(r["sec"] - r["build"] for r in recs) / passes
        out[f"queries.{fam}.jobs"] = sum(r["jobs"] for r in recs) / passes
        out[f"queries.{fam}.tasks"] = sum(r["tasks"] for r in recs) / passes
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("facade_oltp", "batch_mix"))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    args = ap.parse_args()

    spark, state, setup_times = setup(args.workload, args.data)

    tracer = counter = None
    if args.trace:
        tracer = Tracer()
        counter = JobCounter(spark.sparkContext)
        _install_patches(tracer)
    runner = Runner(tracer, counter)
    if args.workload == "facade_oltp":
        res = run_facade(state, args.seed, args.seconds, runner)
    else:
        res = run_batch(spark, state, args.data, args.seed, args.seconds, runner)

    layers = {}
    trace_out = None
    if tracer is not None:
        tracer.unwrap_all()
        layers.update(setup_times)
        layers["setup.warm_s"] = res["warm_s"]
        if args.workload == "facade_oltp":
            layers.update(facade_layers(state, runner, tracer))
        else:
            layers.update(batch_layers(state, runner, res["passes"]))
        n_ops = len(runner.records)
        self_s = tracer.self_times()
        for layer in TRACED_LAYERS:
            layers[f"self_ms_per_op.{layer}"] = self_s.get(layer, 0.0) * 1e3 / n_ops
        layers["spark.collect_ms"] = _mean(tracer.durations("spark.collect")) * 1e3
        layers["spark.failed_tasks"] = sum(r["failed_tasks"] for r in runner.records)
        layers["trace.ops_per_s"] = res["e2e"]["ops_per_s"]
        layers["trace.op_geomean_ms"] = res["e2e"]["op_geomean_ms"]
        os.makedirs(TRACE_DIR, exist_ok=True)
        trace_out = os.path.join(
            TRACE_DIR, f"trace-{args.workload}-seed{args.seed}.json"
        )
        tracer.dump(trace_out, {
            "workload": args.workload,
            "seed": args.seed,
            "end_to_end": res["e2e"],
            "per_layer": layers,
        })
    print(json.dumps({
        "attempted": res["attempted"],
        "failed": len(runner.failures),
        "setup_s": res["ready_s"],
        "e2e": res["e2e"],
        "per_layer": layers,
        "trace_out": trace_out,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
