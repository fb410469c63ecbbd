"""Benchmark for the stac_populator_spark engine.

    python3 perfbench/run.py --workload {populate,queries} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one ``local[N]`` Spark session
(N = min(4, nproc)); inputs are generated from ``--seed`` before anything
is timed. Set-up, timed as ``setup_s``, is ``get_spark()`` plus one cold
call of the workload's operation on a small slice of the input: the
start-up a CLI user pays on every invocation. Then the workload's
operation runs on the full input in a closed loop, one caller, until
``--seconds`` have passed (at least once), and every output,
the set-up call's included, is checked against a computation made apart
from the engine. The last line of stdout is one JSON object; everything
else, Spark's and py4j's logs included, goes to stderr.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics and the tracing overhead (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CPUS = min(4, os.cpu_count() or 1)

POPULATE_PAGES = 20_000
# the cold call that set-up makes runs over the first WARMUP_PAGES pages
WARMUP_PAGES = 500
QUERY_SIZES = {"docs": 500, "vecs": 300, "parts": 200}
WARMUP_SIZES = {"docs": 100, "vecs": 100, "parts": 50}
PREFIX_ROUNDS = 3

# (layer module, query name in __spark_entry__.queries()): one query for
# each layer the populate workload does not run
QUERIES = [
    ("stac_collection", "stac_collections"),
    ("knn", "knn_exact_docs"),
    ("dedup", "minhash_neardup"),
    ("scrub", "pii_redact"),
    ("similarity", "ivfpq_cosine"),
]
QUERY_FIELDS = [
    ("wall_s", "s"), ("call_s", "s"), ("driver_s", "s"), ("jobs", "count"),
    ("tasks", "count"), ("task_cpu_s", "s"), ("shuffle_bytes", "bytes"),
    ("python_bytes", "bytes"),
]
POPULATE_LAYERS = [
    ("sources.scan_s", "s"), ("extract.self_s", "s"), ("cells.self_s", "s"),
    ("spatial_join.self_s", "s"), ("tiles.self_s", "s"), ("stac_json.self_s", "s"),
    ("validate.self_s", "s"), ("collection_agg.self_s", "s"), ("cli.write_s", "s"),
    ("cli.recount_s", "s"), ("extract.executions", "count"),
]
OP_COUNTERS = [
    ("spark.sql_executions", "count"), ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("python.sent_bytes", "bytes"),
    ("python.returned_bytes", "bytes"), ("driver.idle_s", "s"),
]
PER_LAYER = (
    [("session.start_s", "s"), ("session.warmup_s", "s"), ("trace.pass_s", "s"),
     ("trace.untraced_pass_s", "s"), ("trace.probe_s", "s")]
    + OP_COUNTERS
    + POPULATE_LAYERS
    + [(f"{m}.{q}.{f}", u) for m, q in QUERIES for f, u in QUERY_FIELDS]
)
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("catalog_bytes", "bytes")]


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def run_tmp_cleanup(tmp: str) -> None:
    """Remove the shared parent of the run's temp area once no run uses it."""
    try:
        os.rmdir(os.path.dirname(tmp))
    except OSError:
        pass


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def op_counters(d: dict) -> dict:
    return {
        "spark.sql_executions": d["sql_executions"], "spark.jobs": d["jobs"],
        "spark.tasks": d["tasks"], "spark.task_cpu_s": d["task_cpu_s"],
        "spark.gc_s": d["gc_s"], "spark.shuffle_bytes": d["shuffle_bytes"],
        "spark.spill_bytes": d["spill_bytes"], "python.sent_bytes": d["python_sent_bytes"],
        "python.returned_bytes": d["python_returned_bytes"], "driver.idle_s": d["driver_s"],
    }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Populate:
    """One operation is the ``run`` verb, in process, over a generated
    pages parquet, into a fresh output directory. The set-up call runs
    over the first ``WARMUP_PAGES`` of the same pages."""

    def __init__(self, tmp: str, seed: int, con):
        import gen
        from checks import footprint_parts
        from stac_populator_spark.datagen import footprints_pdf

        self.tmp, self.seed, self.con = tmp, seed, con
        self.pages = os.path.join(tmp, "pages")
        self.truth = gen.write_pages(self.pages, seed * POPULATE_PAGES, POPULATE_PAGES)
        self.warm_pages = os.path.join(tmp, "warm_pages")
        self.warm_truth = gen.write_pages(self.warm_pages, seed * POPULATE_PAGES, WARMUP_PAGES)
        self.parts = footprint_parts(footprints_pdf())
        self.n = 0

    def _run(self, pages: str, out: str) -> None:
        from stac_populator_spark import cli

        rc = cli.main(["run", "--pages", pages, "--out", out])
        if rc != 0:
            raise RuntimeError(f"run exited with {rc}")

    def warmup(self, spark) -> tuple[float, list[str]]:
        """The cold set-up call: its wall, and its check failures."""
        from checks import check_catalog

        out = os.path.join(self.tmp, "out", "warmup")
        try:
            t = time.perf_counter()
            self._run(self.warm_pages, out)
            wall = time.perf_counter() - t
            return wall, check_catalog(self.con, out, self.warm_truth, self.parts, self.seed)
        finally:
            rmtree(out)

    def op(self, spark, counters=None) -> dict:
        """One timed ``run``. With ``counters``, also the traced layers.
        The result keeps its wall time even when its check fails."""
        from checks import check_catalog
        from probes import timed_calls
        from stac_populator_spark.runlog import RunLog

        self.n += 1
        out = os.path.join(self.tmp, "out", str(self.n))
        res = {"layers": {}}
        try:
            if counters is None:
                t = time.perf_counter()
                self._run(self.pages, out)
                res["wall_s"] = time.perf_counter() - t
            else:
                df_cls = type(spark.range(1))
                w_cls = type(spark.range(1).write)
                totals: dict = {}
                counters.mark()
                t = time.perf_counter()
                with timed_calls([(w_cls, "parquet")], totals, "cli.write_s"), \
                        timed_calls([(df_cls, "count"), (RunLog, "failures")], totals, "cli.recount_s"):
                    self._run(self.pages, out)
                res["wall_s"] = time.perf_counter() - t
                d = counters.delta()
                res["layers"] = {**totals, **op_counters(d),
                                 "extract.executions": d["map_in_arrow_executions"]}
            res["bytes"] = parquet_bytes(out)
            res["fails"] = check_catalog(self.con, out, self.truth, self.parts, self.seed)
        finally:
            rmtree(out)
        return res

    def prefixes(self, spark) -> dict:
        """Self time of each ``build_items`` step and of ``run``'s
        validation and aggregation: cumulative prefixes of the chain, each
        materialised to the noop sink; self = prefix - previous prefix."""
        from pyspark.sql import functions as F

        from stac_populator_spark.datagen import footprints_pdf
        from stac_populator_spark.operators.cells import encode_cells
        from stac_populator_spark.operators.collection_agg import collection_extent
        from stac_populator_spark.operators.extract import extract_items
        from stac_populator_spark.operators.spatial_join import footprint_cover_df, pip_join
        from stac_populator_spark.operators.stac_json import stac_item_json
        from stac_populator_spark.operators.tiles import assign_items_to_tiles
        from stac_populator_spark.operators.validate import split_valid_invalid

        def noop(df) -> float:
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        pages = spark.read.parquet(self.pages)
        cover = footprint_cover_df(spark, footprints_pdf())
        steps = [("sources.scan_s", pages)]
        df = extract_items(pages)
        steps.append(("extract.self_s", df))
        df = encode_cells(df)
        steps.append(("cells.self_s", df))
        df = pip_join(df, cover, exact="rect", how="left")
        steps.append(("spatial_join.self_s", df))
        df = assign_items_to_tiles(df, z=7)
        steps.append(("tiles.self_s", df))
        df = stac_item_json(df)
        steps.append(("stac_json.self_s", df))
        valid, dead = split_valid_invalid(df)
        tagged = valid.withColumn("failure_reason", F.lit(None).cast("string")).unionByName(dead)
        steps.append(("validate.self_s", tagged))
        # the aggregate's output is a few hundred rows, so no prefix is a
        # fair baseline for it: it is timed alone over a pinned copy of
        # its input (the valid, matched items)
        in_coll = (
            tagged.filter(F.col("failure_reason").isNull())
            .filter(F.col("collection_id").isNotNull())
            .localCheckpoint(eager=True)
        )
        agg = collection_extent(in_coll)
        # each timing PREFIX_ROUNDS times, rounds interleaved, median
        rounds = [[noop(step) for _, step in steps] + [noop(agg)] for _ in range(PREFIX_ROUNDS)]
        t = [statistics.median(col) for col in zip(*rounds)]
        out = {name: t[k] - (t[k - 1] if k else 0.0) for k, (name, _) in enumerate(steps)}
        out["collection_agg.self_s"] = t[-1]
        return out


class Queries:
    """One operation is a pass over ``__spark_entry__.queries()`` entries,
    each collected to the driver, over tables generated from the seed."""

    def __init__(self, tmp: str, seed: int, con):
        import gen
        from checks import QueryChecker

        names = [q for _, q in QUERIES]
        self.sf = os.path.join(tmp, "sf")
        gen.write_tables(self.sf, seed, QUERY_SIZES["docs"], QUERY_SIZES["vecs"], QUERY_SIZES["parts"])
        self.checker = QueryChecker(con, self.sf, names)
        # the set-up pass runs over smaller tables drawn from the same seed
        self.warm_sf = os.path.join(tmp, "warm_sf")
        gen.write_tables(self.warm_sf, seed, WARMUP_SIZES["docs"], WARMUP_SIZES["vecs"], WARMUP_SIZES["parts"])
        self.warm_checker = QueryChecker(con, self.warm_sf, names)

    def _pass(self, spark, sf: str, counters=None) -> tuple[float, dict, dict]:
        import __spark_entry__ as entry

        fns = entry.queries()
        outs, layers, wall = {}, {}, 0.0
        for module, name in QUERIES:
            if counters is not None:
                counters.mark()
            t = time.perf_counter()
            df = fns[name](spark, sf)
            call = time.perf_counter() - t
            outs[name] = df.toPandas()
            took = time.perf_counter() - t
            wall += took
            log(f"{name} {took:.3f}s")
            if counters is not None:
                d = counters.delta()
                key = f"{module}.{name}"
                layers.update({
                    f"{key}.wall_s": took, f"{key}.call_s": call, f"{key}.driver_s": d["driver_s"],
                    f"{key}.jobs": d["jobs"], f"{key}.tasks": d["tasks"],
                    f"{key}.task_cpu_s": d["task_cpu_s"], f"{key}.shuffle_bytes": d["shuffle_bytes"],
                    f"{key}.python_bytes": d["python_sent_bytes"] + d["python_returned_bytes"],
                })
                for k, v in op_counters(d).items():
                    layers[k] = layers.get(k, 0) + v
        return wall, outs, layers

    def warmup(self, spark) -> tuple[float, list[str]]:
        """The cold set-up pass: its wall, and its check failures."""
        wall, outs, _ = self._pass(spark, self.warm_sf)
        return wall, [f for name, pdf in outs.items() for f in self.warm_checker.check(name, pdf)]

    def op(self, spark, counters=None) -> dict:
        wall, outs, layers = self._pass(spark, self.sf, counters)
        fails = [f for name, pdf in outs.items() for f in self.checker.check(name, pdf)]
        size = sum(int(p.memory_usage(index=False, deep=True).sum()) for p in outs.values())
        return {"wall_s": wall, "bytes": size, "fails": fails, "layers": layers}

    def prefixes(self, spark) -> dict:
        return {}


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------

def vm_cpu_s() -> dict:
    """Machine-wide busy and stolen CPU seconds so far (/proc/stat): a
    diagnostic that tells a slow run on a contended host from a slow
    program."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy_s": (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, "steal_s": v[7] / hz}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the py4j gateway launched, and wait
    for it (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def pin_environment(tmp: str) -> None:
    """local[CPUS] for every get_spark() call in the process (the ``run``
    verb calls it again and re-applies its runtime confs from
    SPARK_GRAFT_CPUS), and every scratch file under ``tmp``."""
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.makedirs(os.path.join(tmp, "py"), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        TMPDIR=os.path.join(tmp, "py"),
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    )


def start_spark(tmp: str, app_name: str):
    from stac_populator_spark.session import get_spark

    spark = get_spark(
        app_name=app_name,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata under /tmp; JVM temp files (the Python worker
            # sockets among them) under the run's own temp area
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'local')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args, tmp: str) -> dict:
    import checks

    loadavg_before = os.getloadavg()
    pin_environment(tmp)
    con = checks.connect(CPUS)
    wl = (Populate if args.workload == "populate" else Queries)(tmp, args.seed, con)
    log("inputs generated")
    attempted = failed = wrong = 0

    def record(fails: list[str]) -> None:
        nonlocal failed, wrong
        if fails:
            failed += 1
            wrong += 1
            log("check failed: " + "; ".join(fails))

    # set-up: the session and one cold call on the small slice; the
    # call's check is not timed
    t0 = time.perf_counter()
    spark = start_spark(tmp, f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    results, traced, vm = [], [], []
    try:
        attempted += 1
        try:
            warm_s, warm_fails = wl.warmup(spark)
            record(warm_fails)
        except Exception as e:  # one failed operation must not end the run
            failed += 1
            log(f"set-up call failed: {type(e).__name__}: {e}\n{traceback.format_exc()}")
            warm_s = time.perf_counter() - t0 - session_s
        setup_s = session_s + warm_s
        log(f"set-up {setup_s:.2f}s (session {session_s:.2f}s)")

        counters = None
        if args.trace:
            from probes import SparkCounters

            counters = SparkCounters(spark)
        # untraced: timed operations until --seconds have passed, at least
        # one. Traced: (untraced, traced) pairs until --seconds have passed,
        # at least one, so the overhead is read within the process.
        cycle = [None, counters] if args.trace else [None]
        begin = time.perf_counter()
        n = 0
        while True:
            mode = cycle[n % len(cycle)]
            n += 1
            attempted += 1
            c0 = vm_cpu_s()
            try:
                r = wl.op(spark, mode)
            except Exception as e:  # one failed operation must not end the run
                failed += 1
                log(f"operation failed: {type(e).__name__}: {e}\n{traceback.format_exc()}")
                r = None
            vm.append({k: round(vm_cpu_s()[k] - c0[k], 2) for k in c0})
            if r is not None:
                # a result whose check failed keeps its timing
                record(r["fails"])
                log(f"{'traced ' if mode else ''}operation {r['wall_s']:.3f}s, checked")
                (traced if mode else results).append(r)
            if n % len(cycle) == 0 and time.perf_counter() - begin >= args.seconds:
                break
        prefixes = wl.prefixes(spark) if args.trace and traced else {}
        diagnostics = {
            "nproc": os.cpu_count(), "local_n": CPUS, "loadavg_before": loadavg_before,
            "loadavg_after": os.getloadavg(), "session_s": session_s, "vm_cpu_per_op": vm,
            "op_wall_s": [r["wall_s"] for r in results + traced],
            "driver_jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            "java": spark._jvm.System.getProperty("java.version"),
            "spark": spark.version, "python": platform.python_version(),
        }
    finally:
        stop_spark(spark)
    log("session stopped")
    if isinstance(wl, Populate) and results:
        diagnostics["pages_per_s"] = POPULATE_PAGES / statistics.median(r["wall_s"] for r in results)
    print(json.dumps({"diagnostics": diagnostics}), file=sys.stderr)

    if not results or (args.trace and not traced):
        raise RuntimeError("no operation produced a timing")
    if args.trace:
        # each layer figure is the median over the traced operations;
        # layers idle on this workload read 0
        layers = {k: statistics.median(r["layers"].get(k, 0.0) for r in traced)
                  for k in traced[0]["layers"]}
        metrics = {name: float({**layers, **prefixes}.get(name, 0.0)) for name, _ in PER_LAYER}
        metrics["session.start_s"] = session_s
        metrics["session.warmup_s"] = setup_s - session_s
        metrics["trace.pass_s"] = statistics.median(r["wall_s"] for r in traced)
        metrics["trace.untraced_pass_s"] = statistics.median(r["wall_s"] for r in results)
        metrics["trace.probe_s"] = counters.spent / len(traced)
        units = dict(PER_LAYER)
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(r["wall_s"] for r in results),
            "catalog_bytes": statistics.median(r["bytes"] for r in results),
        }
        units = dict(END_TO_END)
    return {
        "correct": wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["populate", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "stac_populator_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log("run from the repository root: stac_populator_spark/ and __spark_entry__.py not found")
        return 2
    sys.path[:0] = [ROOT, HERE]

    # the result line is the only thing written to the real stdout; the
    # JVM and py4j inherit a stdout that points at stderr
    sys.stdout.flush()
    result_fd = os.dup(1)
    os.dup2(2, 1)
    tmp = os.path.join(ROOT, ".perfbench-tmp", str(os.getpid()))
    try:
        result = run(args, tmp)
    finally:
        rmtree(tmp)
        run_tmp_cleanup(tmp)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
