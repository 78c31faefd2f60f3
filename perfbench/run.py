"""Production-path benchmark for json_schema_modern_spark.

    python3 perfbench/run.py --workload tokens-clean --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process drives the engine through its
public entry points only (``cli.main``, ``ValidationPipeline.run``,
``Validator``, ``operators.*``, ``pyeval.full.PyEvaluator``) on
``local[<cpus>]`` with an explicit driver heap.  Workloads, metrics and the
output contract are described in perfbench/README.md.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
holds the run's settings, its input-generation time and the contention
stamp (a fixed pure-CPU loop timed before and after the run).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("tokens-clean", "json-hybrid")
# Input rows per workload: input generation, set-up, one warm-up call and
# the timed window fit in about a minute on 4 vCPUs (README.md, "Why the
# inputs are small").
ROWS = {"tokens-clean": 10_000, "json-hybrid": 50_000}
CPUS = os.cpu_count() or 4
# -Xms = -Xmx: a heap that grows on demand makes peak RSS depend on when
# the collector decided to expand it, not on the work
DRIVER_HEAP = "3g"
N_BUCKETS = 256          # the CLI default
# Untimed warm-up calls, and the fewest timed calls however short
# --seconds is.  A json-hybrid call takes 3-5 s and still gets faster after
# the first call (4.4, 3.7, 3.6 s); a token call takes 8-12 s, and the run
# budget fits only two timed ones.
WARMUP_CALLS = {"tokens-clean": 1, "json-hybrid": 2}
MIN_CALLS = {"tokens-clean": 2, "json-hybrid": 3}
VIOL_COLS = ["doc_id", "instance_location", "keyword_location",
             "absolute_keyword_location", "keyword", "error",
             "offending_value"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- host stamps ------------------------------------------------------------

def cpu_burn_s() -> float:
    """Wall time of a fixed pure-Python loop: rises when the host's CPUs
    are contended, whatever this process does."""
    t = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM and
    its Python workers), sampled from /proc every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._done = threading.Event()

    @staticmethod
    def _status(pid: int) -> dict[str, str]:
        try:
            with open(f"/proc/{pid}/status") as f:
                return dict(ln.split(":", 1) for ln in f if ":" in ln)
        except OSError:
            return {}

    def _tree_rss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [(os.getpid(), {})]
        while todo:
            pid, parent = todo.pop()
            st = self._status(pid)
            # a child between fork and exec (the JVM spawning a Python
            # worker) still maps its parent's memory and reports the
            # parent's RSS again: count it once
            if "VmRSS" in st and st.get("VmSize") != parent.get("VmSize"):
                total += int(st["VmRSS"].split()[0])
            todo.extend((c, st) for c in children.get(pid, []))
        return total

    def run(self):
        while not self._done.wait(0.2):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return max(self.peak_kb, self._tree_rss_kb()) / 1024.0


# -- session / spec ---------------------------------------------------------

def configure_env() -> None:
    """Keep every file Spark and Python write inside the checkout, and pin
    the settings ``session.get_spark`` reads from the environment (the CLI
    calls it again) to the host's CPU count and the benchmark's heap."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(extra_conf: dict | None = None):
    from json_schema_modern_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{DRIVER_HEAP}",
        "spark.ui.showConsoleProgress": "false",
        **(extra_conf or {}),
    }
    spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM to
    exit: it exits when its stdin closes, and takes its Python workers with
    it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def workload_spec(workload: str) -> dict:
    if workload == "json-hybrid":
        from __spark_entry__ import _JSON_TIER_SPEC

        return _JSON_TIER_SPEC
    from bench import _flagship_spec

    return _flagship_spec()


def compile_workload_spec(spark, workload: str, spec: dict):
    """The traverse phase a CLI call starts with: compile the spec for the
    schema the workload's rows arrive in."""
    from json_schema_modern_spark import Validator

    if workload == "json-hybrid":
        from json_schema_modern_spark.compiler.column_compiler import (
            _spark_schema_from_spec,
        )

        schema = _spark_schema_from_spec(spec)
        return Validator(spec).compile_for(spark.createDataFrame([], schema))
    from json_schema_modern_spark.compiler.column_compiler import CompileOptions
    from json_schema_modern_spark.sources.sequences import TOKEN_SCHEMA

    v = Validator(spec, CompileOptions(assume_dense_arrays=True))
    return v.compile_for(spark.createDataFrame([], TOKEN_SCHEMA))


# -- the timed paths ----------------------------------------------------------

class Bench:
    """One workload's input, the commands that run on it, and the output
    checks.  ``attempted``/``failed`` count every call and every check."""

    def __init__(self, spark, workload: str, input_path: str, manifest: dict,
                 spec_path: str):
        self.spark = spark
        self.workload = workload
        self.input = input_path
        self.manifest = manifest
        self.spec_path = spec_path
        self.spec = workload_spec(workload)
        self.rows = manifest["input_rows"]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._out_n = 0

    def compile(self):
        return compile_workload_spec(self.spark, self.workload, self.spec)

    # -- bookkeeping --------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def fresh_output(self) -> str:
        self._out_n += 1
        out = os.path.join(WORK, "out", f"{self.workload}-{self._out_n}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    # -- commands -----------------------------------------------------------

    def cli_argv(self, out: str, resume: bool) -> list[str]:
        data = os.path.join(self.input, "data")
        if self.workload == "json-hybrid":
            argv = ["--spec", self.spec_path, "--table", data,
                    "--json-col", "payload", "--tier", "hybrid",
                    "--id-col", "event_id", "--output", out]
        else:
            argv = ["--spec", self.spec_path, "--table", data,
                    "--source-dict", os.path.join(self.input, "source_dict"),
                    "--output", out, "--contract-schema",
                    "--n-buckets", str(N_BUCKETS)]
        return argv + (["--resume"] if resume else [])

    def cli(self, out: str, resume: bool) -> tuple[float, dict]:
        """One ``cli.main`` call; returns (wall seconds, JSON summary).
        An exception or exit code 2 counts as a failed call."""
        from json_schema_modern_spark import cli

        buf = io.StringIO()
        t = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(self.cli_argv(out, resume))
        dt = time.perf_counter() - t
        lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
        summary = json.loads(lines[-1]) if lines else {}
        invalid = (self.manifest["invalid_ids"] if self.workload == "json-hybrid"
                   else self.manifest["violations"])
        self.check(rc == (1 if invalid else 0),
                   f"cli{' --resume' if resume else ''} exit {rc}: {summary}")
        return dt, summary

    def inmemory(self) -> tuple[float, list[int]]:
        """The in-memory tower: ``ValidationPipeline(workdir=None).run``
        (token workloads) or ``validate_json_strings(tier="hybrid")``
        (json-hybrid), its violations fully computed and digested, plus
        the column-stats action for the token tower."""
        from gen import digest
        from json_schema_modern_spark import Validator
        from json_schema_modern_spark.plans.pipeline import ValidationPipeline

        data = os.path.join(self.input, "data")
        t = time.perf_counter()
        if self.workload == "json-hybrid":
            df = self.spark.read.parquet(data)
            viols = Validator(self.spec).validate_json_strings(
                df, "payload", id_cols=["event_id"], tier="hybrid").violations
            rows = digest(viols.withColumnRenamed("event_id", "doc_id"),
                          VIOL_COLS)
        else:
            from json_schema_modern_spark.compiler.column_compiler import (
                CompileOptions,
            )
            from json_schema_modern_spark.sources.sequences import read_token_table

            pipe = ValidationPipeline(
                self.spec, workdir=None,
                n_buckets=N_BUCKETS,
                options=CompileOptions(assume_dense_arrays=True))
            res = pipe.run(self.spark, read_token_table(self.spark, data),
                           source_dict=self.spark.read.parquet(
                               os.path.join(self.input, "source_dict")))
            rows = digest(res.violations, VIOL_COLS)
            res.stats.collect()
        return time.perf_counter() - t, rows

    # -- output checks (outside every timed window) -------------------------

    def check_output(self, out: str, summary: dict) -> None:
        """Compare a finished CLI output with the manifest; an output that
        cannot be read fails the check."""
        spark = self.spark
        try:
            if self.workload == "json-hybrid":
                viols = spark.read.parquet(os.path.join(out, "violations_json"))
                ids = sorted(r.event_id for r in
                             viols.select("event_id").distinct().collect())
                self.check(ids == self.manifest["invalid_ids"],
                           "json-hybrid: invalid documents differ from the shape rule")
                n = viols.count()
                self.check(summary.get("violations") == n,
                           f"json-hybrid: summary {summary} vs {n} rows written")
                return
            counts = {
                f"{r.keyword}|{r.keyword_location}": r.n_violations
                for r in spark.read.parquet(
                    os.path.join(out, "violation_counts")).collect()
            }
        except Exception as e:  # a broken output fails the check, not the run
            self.check(False, f"output check raised {type(e).__name__}: {e}")
            return
        self.check(counts == self.manifest["expected"],
                   f"per-keyword violations {counts} != {self.manifest['expected']}")
        self.check(summary.get("violations") == self.manifest["violations"],
                   f"summary {summary} != {self.manifest['violations']} violations")

    def written_rows(self, out: str) -> list[int]:
        """``gen.digest`` of the violation rows a CLI call wrote."""
        from gen import digest

        if self.workload == "json-hybrid":
            viols = self.spark.read.parquet(os.path.join(out, "violations_json"))
            return digest(viols.withColumnRenamed("event_id", "doc_id"),
                              VIOL_COLS)
        with open(os.path.join(out, "run_manifest.json")) as f:
            fp = json.load(f)["spec_fingerprint"]
        return digest(self.spark.read.parquet(
            os.path.join(out, "violations", f"fp={fp}")), VIOL_COLS)

    def check_resume(self, summary: dict, first: dict) -> None:
        self.check(summary.get("violations") == first.get("violations"),
                   f"resume reported {summary} after {first}")
        if self.workload != "json-hybrid":
            self.check(summary.get("buckets_done") == 0
                       and summary.get("buckets_skipped") == N_BUCKETS,
                       f"resume recomputed buckets: {summary}")

    def warm_up(self, all_paths: bool) -> float:
        """Untimed first calls: a checkpointed CLI call (its wall time is
        returned), and with ``all_paths`` also a ``--resume`` over its
        output and the in-memory tower, so each path the traced run times
        has had a call of its own first."""
        out = self.fresh_output()
        try:
            t, summary = self.cli(out, resume=False)
            self.check_output(out, summary)
            if all_paths:
                _, again = self.cli(out, resume=True)
                self.check_resume(again, summary)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if all_paths:
            self.inmemory()
        return t

    def production(self) -> float:
        """One checkpointed CLI call into a fresh output directory; returns
        its wall time.  The output is checked after the timing."""
        out = self.fresh_output()
        try:
            ckpt_s, summary = self.cli(out, resume=False)
            self.check_output(out, summary)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return ckpt_s


# -- main -------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "json_schema_modern_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (json_schema_modern_spark/ "
              "not found)", file=sys.stderr)
        return 2
    configure_env()
    import gen

    burn_before = cpu_burn_s()
    spec = workload_spec(args.workload)
    spec_path = os.path.join(WORK, f"spec-{args.workload}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    rows = ROWS[args.workload]
    in_path = gen.input_dir(WORK, args.workload, args.seed, rows)
    gen_s = 0.0
    if gen.load_manifest(in_path) is None:
        # generated in a process of its own (token tables in a JVM of their
        # own): the JVM that runs the calls then starts with the same heap
        # and JIT state whether or not the input was cached, and generation
        # is not in the peak RSS
        tg = time.perf_counter()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        args.workload, str(args.seed), str(rows), in_path],
                       stdout=sys.stderr, check=True)
        gen_s = time.perf_counter() - tg
    rss = RssSampler()
    rss.start()
    extra_conf = {}
    log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{args.seed}-{os.getpid()}")
    if args.trace:
        os.makedirs(log_dir)
        extra_conf = {"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"}

    # set-up: from process start until the session is up, the spec
    # compiled and the cached input located, less the contention stamp and
    # the input generation.  It is measured once: only the first set-up in
    # a process launches the JVM, and a session restart in a warm JVM
    # measures something else.
    ts = time.perf_counter()
    spark = start_session(extra_conf)
    session_start = time.perf_counter() - ts
    compile_workload_spec(spark, args.workload, spec)
    manifest = gen.load_manifest(in_path)
    setup_s = time.perf_counter() - T_PROCESS - burn_before - gen_s

    bench = Bench(spark, args.workload, in_path, manifest, spec_path)
    # warm-up: the first call in a JVM costs ~2x a steady one
    warmup_s = [bench.warm_up(all_paths=bool(args.trace))]
    warmup_s += [bench.production()
                 for _ in range(WARMUP_CALLS[args.workload] - 1)]
    app_id = spark.sparkContext.applicationId
    if args.trace:
        from layers import run_layers

        spans, facts = run_layers(bench)
    else:
        samples: list[float] = []
        t_end = time.perf_counter() + args.seconds
        while (len(samples) < MIN_CALLS[args.workload]
               or time.perf_counter() < t_end):
            samples.append(bench.production())
        metrics = {
            "rows_per_s": {"value": bench.rows / statistics.median(samples),
                           "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    stop_jvm(spark)
    peak = rss.stop()
    burn_after = cpu_burn_s()
    if args.trace:
        from eventlog import parse_log
        from layers import layer_metrics

        metrics = layer_metrics(spans, facts,
                                parse_log(os.path.join(log_dir, app_id)),
                                bench.rows, session_start)
        shutil.rmtree(log_dir)
        metrics["host.cpu_burn_s"] = {
            "value": statistics.median([burn_before, burn_after]), "unit": "s"}
    else:
        metrics["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    print(json.dumps({
        "settings": {"workload": args.workload, "seed": args.seed,
                     "seconds": args.seconds, "trace": args.trace,
                     "master": f"local[{CPUS}]", "driver_heap": DRIVER_HEAP,
                     "shuffle_partitions": CPUS, "n_buckets": N_BUCKETS,
                     "input_rows": bench.rows},
        "gen_s": gen_s, "setup_s": setup_s,
        "host.cpu_burn_s": [burn_before, burn_after],
        "samples": None if args.trace else samples,
        "warmup_s": warmup_s, "wall_s": time.perf_counter() - T_PROCESS,
        "errors": bench.errors[:10],
    }))
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
