"""Filter-engine benchmark: one driver process, ``local[nproc/2]``, closed loop.

    python3 filterbench/run.py --workload text_heavy --seed 1 --seconds 15 --trace 0

Run from the repository root. A run generates its input from ``--seed``,
computes the expected answer outside the timed path (both in a pool of
plain Python processes), sets the session up (JVM launch, warm-up, input
validation), then runs one job after another (the next starts when the
previous returns) for ``--seconds``, at least ``min_jobs`` of them, and
checks every job's output. Two
session restarts follow, which time the set-up again. With ``--trace 1`` the
untraced jobs are followed by every layer as a separately materialized
action on the same input; spans go to ``.filterbench/spans/``.

Report lines go to stdout; the last line is one JSON object
{"correct", "attempted", "failed", "metrics"} holding the end-to-end metrics
of BENCHMARK.json untraced and the per-layer metrics traced.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".filterbench"
SPEC = ROOT / "BENCHMARK.json"
sys.path.insert(0, str(ROOT))

if __name__ == "__main__" and not os.environ.get("FILTERBENCH_INNER"):
    # from the command line the run happens in a child process, under a
    # supervisor that returns only once every process the run started has
    # ended; the engine is imported by that child alone
    from filterbench import supervisor

    sys.exit(supervisor.supervise(__file__, sys.argv[1:]))

# these imports fail, before any output, where the engine is absent
from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from corpusama_spark import checkpoint, pipeline, snapshots  # noqa: E402
from corpusama_spark.functions.fused import text_stage  # noqa: E402
from corpusama_spark.functions.images import verify_image  # noqa: E402
from corpusama_spark.functions.scrub import scrub_caption  # noqa: E402
from corpusama_spark.session import get_spark  # noqa: E402
from corpusama_spark.sources import synth  # noqa: E402
from filterbench import inputs, oracle, probes  # noqa: E402

SETUPS = 3  # set-ups per run (a JVM launch, then restarts); setup_s is their median
WARMUP_ROWS = 400
NBUCKETS = 2
CRASH_AFTER_BUCKETS = 1  # the first of the two waves
# the keep rate of both synthetic mixes is ~0.9; a wave below half means
# the filter broke, and the audit stops it before it is published
MIN_WAVE_KEEP_RATE = 0.5


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    kind: str  # a generator of inputs.ROWS
    checkpointed: bool
    # a run makes at least this many jobs, even past --seconds, so that the
    # median has samples to choose from; checkpointed cycles last ~5 s
    min_jobs: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload("text_heavy", 12_000, "standard", False, 3),
        Workload("image_heavy", 6_000, "image_heavy", False, 3),
        Workload("checkpointed_resume", 4_000, "standard", True, 3),
    )
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Half the cores: the driver JVM, its GC and the Python driver get
    the rest. On a shared 4-core host local[2] ran ~10% fewer images/s
    than local[4] but halved the run-to-run spread (IQR/median of
    images_per_s 0.10 against 0.21 over six interleaved seed pairs)."""
    return max(1, nproc() // 2)


def start_session(cores: int) -> SparkSession:
    spark = get_spark(
        cores=cores,
        app_name="filterbench",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(WORK / "local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            # the heap of a long job fills to its limit; touching it at
            # launch makes peak memory that steady state, not GC timing
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark: SparkSession) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wave_audit(metrics: dict, _written: DataFrame) -> bool:
    return metrics["n_rows"] > 0 and (
        metrics["n_keep"] / metrics["n_rows"] >= MIN_WAVE_KEEP_RATE
    )


@dataclass
class Cycle:
    """One crash-and-resume run of the checkpointed job entrypoint."""

    crash_s: float
    resume_s: float
    out: pathlib.Path
    manifest: pathlib.Path
    snaps: pathlib.Path

    @property
    def total_s(self) -> float:
        return self.crash_s + self.resume_s

    def bytes_written(self) -> int:
        return sum(probes.dir_bytes(p) for p in (self.out, self.manifest, self.snaps))


def run_cycle(spark: SparkSession, captions: DataFrame, where: pathlib.Path) -> Cycle:
    """``run_checkpointed`` with a crash injected after
    CRASH_AFTER_BUCKETS buckets, then the resume to completion."""
    shutil.rmtree(where, ignore_errors=True)
    out, manifest, snaps = where / "out", where / "manifest", where / "snapshots"
    kwargs = dict(
        config=pipeline.FilterConfig(nbuckets=NBUCKETS),
        snapshot_dir=str(snaps),
        wap_audit=wave_audit,
        run_id="bench",
    )
    t0 = time.perf_counter()
    try:
        checkpoint.run_checkpointed(
            spark, captions, str(out), str(manifest),
            fail_after_buckets=CRASH_AFTER_BUCKETS, **kwargs,
        )
    except RuntimeError as exc:
        if "injected failure" not in str(exc):
            raise
    else:
        raise RuntimeError("the injected crash did not happen")
    t1 = time.perf_counter()
    checkpoint.run_checkpointed(spark, captions, str(out), str(manifest), **kwargs)
    t2 = time.perf_counter()
    return Cycle(t1 - t0, t2 - t1, out, manifest, snaps)


def check_cycle(spark: SparkSession, cycle: Cycle, expected: oracle.Summary) -> list[str]:
    """Mismatches between ``expected`` and the committed table: scanned,
    read as of the latest snapshot, and counted from snapshot metadata
    (``fast_count`` counts kept rows)."""
    errors = []
    committed = oracle.summarize(spark.read.parquet(str(cycle.out)))
    if committed != expected:
        errors.append(f"committed output {committed.as_dict()}")
    as_of = oracle.summarize(
        snapshots.read_as_of(spark, str(cycle.out), str(cycle.snaps))
    )
    if as_of != expected:
        errors.append(f"read_as_of {as_of.as_dict()}")
    kept = snapshots.fast_count(str(cycle.snaps))
    if kept != expected.n_keep:
        errors.append(f"fast_count {kept} != n_keep {expected.n_keep}")
    return errors


class Run:
    """One benchmark invocation."""

    def __init__(self, args: argparse.Namespace):
        self.wl = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = spark_cores()
        self.spans = probes.Spans()
        self.input_path = WORK / "work" / "input"
        self.warm_path = WORK / "work" / "warmup"
        self.attempted = 0
        self.failed = 0
        self.job_times: list[float] = []
        self.resume_times: list[float] = []
        self.write_amps: list[float] = []
        self.spark: SparkSession | None = None

    # -- correctness bookkeeping -------------------------------------------

    def record(self, what: str, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            for e in errors:
                print(f"# FAIL {what}: {e}", flush=True)

    def gate(self, what: str, got: oracle.Summary) -> None:
        errors = []
        if got != self.expected:
            errors.append(f"got {got.as_dict()} expected {self.expected.as_dict()}")
        self.record(what, errors)

    # -- phases ------------------------------------------------------------

    def prepare(self) -> None:
        """Write the input and the warm-up rows (from past the end of the
        measured rows) and compute the expected answer."""
        wl = self.wl
        self.expected = inputs.prepare(
            wl.kind, self.seed, wl.rows, WARMUP_ROWS, str(self.input_path),
            str(self.warm_path), NBUCKETS if wl.checkpointed else None, nproc(),
        )
        self.input_bytes = probes.dir_bytes(self.input_path)

    def captions(self) -> DataFrame:
        return self.spark.read.parquet(str(self.input_path))

    def warm_up_pipeline(self) -> None:
        """Run the pipeline once on the warm-up rows: starts the Python
        workers and loads their models."""
        oracle.summarize(pipeline.run_pipeline(self.spark.read.parquet(str(self.warm_path))))

    def validate(self) -> None:
        captions = self.captions()
        want = set(synth.CAPTIONS_SCHEMA.fieldNames()) | (
            {"bucket"} if self.wl.checkpointed else set()
        )
        if set(captions.columns) != want:
            raise ValueError(f"input columns {captions.columns} != {sorted(want)}")
        n = captions.count()
        if n != self.wl.rows:
            raise ValueError(f"input has {n} rows, expected {self.wl.rows}")

    def setup_once(self) -> tuple[float, float]:
        """A fresh session + warm-up + input validation; returns
        (set-up seconds, session-start seconds)."""
        self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session(self.cores)
        t1 = time.perf_counter()
        self.warm_up_pipeline()
        self.validate()
        return time.perf_counter() - t0, t1 - t0

    def batch_job(self) -> float:
        t0 = time.perf_counter()
        got = oracle.summarize(pipeline.run_pipeline(self.captions()))
        dt = time.perf_counter() - t0
        self.gate("job", got)
        return dt

    def checkpointed_job(self) -> float:
        cycle = run_cycle(self.spark, self.captions(), WORK / "work" / "cycle")
        self.resume_times.append(cycle.resume_s)
        self.write_amps.append(cycle.bytes_written() / self.input_bytes)
        self.record("cycle", check_cycle(self.spark, cycle, self.expected))
        return cycle.total_s

    def measure(self) -> None:
        """Closed loop of jobs for ``seconds``; in a traced run these
        untraced jobs are the reference for the tracing overhead."""
        job = self.checkpointed_job if self.wl.checkpointed else self.batch_job
        deadline = time.perf_counter() + self.seconds
        for tries in itertools.count(1):
            try:
                self.job_times.append(job())
            except Exception:  # a job that raises counts against fail_ratio
                traceback.print_exc()
                self.record("job", ["raised"])
            if time.perf_counter() >= deadline and tries >= self.wl.min_jobs:
                break

    def layers(self) -> dict[str, float]:
        """Each layer as its own action on the same input, timed around
        the public call. Returns the per-layer metrics."""
        spark, span, m = self.spark, self.spans.span, {}
        captions = self.captions()

        with span("sources.scan"):
            captions.agg(
                F.count(F.lit(1)), F.sum(F.length("bytes")), F.sum(F.length("caption"))
            ).collect()
        m["sources.input_bytes"] = self.input_bytes

        with span("images.verify"):
            row = captions.select(verify_image().alias("v")).agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.col("v.image_ok").cast("long"))
            ).collect()[0]
        m["images.verify_rows"] = row.n

        with span("fused.text_stage"):
            captions.select(text_stage("caption").alias("t")).agg(
                F.count("t.l1"), F.sum(F.length("t.caption_norm"))
            ).collect()

        # the pipeline scrubs normalized captions; the raw ones differ only
        # in the few characters normalization folds
        with span("scrub.scrub"):
            captions.select(scrub_caption("caption").alias("s")).agg(
                F.sum(F.length("s"))
            ).collect()

        with span("pipeline.staged"):
            frame = oracle.summary_frame(pipeline.run_pipeline(captions))
            rows = frame.collect()
        self.gate("staged plan", oracle.summary_of(rows))
        m["pipeline.shuffle_bytes"] = probes.shuffle_bytes(frame)

        with span("pipeline.narrow"):
            got = oracle.summarize(pipeline.narrow_decisions(captions))
        self.gate("narrow plan", got)

        with span("checkpoint.cycle"):
            cycle = run_cycle(spark, captions, WORK / "work" / "cycle")
        self.record("traced cycle", check_cycle(spark, cycle, self.expected))
        chain = snapshots.snapshots(str(cycle.snaps))
        m["checkpoint.crash_leg_s"] = cycle.crash_s
        m["checkpoint.resume_leg_s"] = cycle.resume_s
        m["checkpoint.waves"] = len(chain)
        m["checkpoint.wave_s"] = cycle.total_s / len(chain)
        m["checkpoint.output_files"] = probes.count_files(cycle.out, ".parquet")
        m["checkpoint.manifest_files"] = probes.count_files(cycle.manifest, ".parquet")
        m["checkpoint.bytes_written"] = cycle.bytes_written()
        m["snapshots.commits"] = len(chain)
        m["snapshots.metadata_bytes"] = probes.dir_bytes(cycle.snaps)
        with span("snapshots.read_as_of"):
            oracle.summarize(snapshots.read_as_of(spark, str(cycle.out), str(cycle.snaps)))
        with span("snapshots.fast_count"):
            snapshots.fast_count(str(cycle.snaps))

        for name in (
            "sources.scan", "images.verify", "fused.text_stage", "scrub.scrub",
            "pipeline.staged", "pipeline.narrow",
            "snapshots.read_as_of", "snapshots.fast_count",
        ):
            m[f"{name}_s"] = self.spans.seconds(name)
        return m

    def plan_pick(self) -> str:
        return pipeline.choose_plan(self.captions())

    # -- the run -----------------------------------------------------------

    def execute(self) -> dict:
        shutil.rmtree(WORK / "work", ignore_errors=True)
        phases: dict[str, float] = {}

        @contextmanager
        def phase(name: str):
            t0 = time.perf_counter()
            yield
            phases[name] = time.perf_counter() - t0

        cpu_before = probes.cpu_times()
        with phase("probe_before"):
            probe_before = probes.spin_probe(nproc())
        with phase("prepare"):
            self.prepare()
        try:
            # the first set-up launches the JVM; the measured jobs run in it
            t0 = time.perf_counter()
            self.spark = start_session(self.cores)
            t1 = time.perf_counter()
            self.warm_up_pipeline()
            self.validate()
            setups = [(time.perf_counter() - t0, t1 - t0)]
            phases["first_setup"] = setups[0][0]
            # the first full-size job in a JVM still pays for JIT compilation
            # (a first crash-and-resume cycle ran ~20% slower than a second);
            # run one untimed, the same job the measurement repeats
            with phase("warm_up_job"):
                if self.wl.checkpointed:
                    run_cycle(self.spark, self.captions(), WORK / "work" / "cycle")
                else:
                    oracle.summarize(pipeline.run_pipeline(self.captions()))
            plans = [self.plan_pick()]
            memory = probes.MemorySampler().start()
            try:
                with phase("measure"):
                    self.measure()
                if self.trace:
                    with phase("layers"):
                        layer_metrics = self.layers()
            finally:
                peak = memory.stop()
            plans.append(self.plan_pick())
            # restarts come last: a restarted session keeps module-level UDFs
            # bound to the first one, so the measured jobs run in the first
            with phase("restarts"):
                setups += [self.setup_once() for _ in range(SETUPS - 1)]
        finally:
            if self.spark is not None:
                with phase("stop"):
                    stop_jvm(self.spark)
        with phase("probe_after"):
            probe_after = probes.spin_probe(nproc())
        cpu_after = probes.cpu_times()
        shutil.rmtree(WORK / "work", ignore_errors=True)

        setup_s = statistics.median(s for s, _ in setups)
        rates = [self.wl.rows / t for t in self.job_times]
        rate = statistics.median(rates) if rates else 0.0  # every job raised
        context = {
            "workload": self.wl.name,
            "seed": self.seed,
            "nproc": nproc(),
            "master": f"local[{self.cores}]",
            "rows": self.wl.rows,
            "input_bytes": self.input_bytes,
            "run_seconds": self.seconds,
            "trace": int(self.trace),
            "spin_probe_procs": nproc(),
            "spin_probe_before": probe_before,
            "spin_probe_after": probe_after,
            # CPU time the hypervisor gave to other guests during the run
            "cpu_steal_share": round(
                (cpu_after[0] - cpu_before[0]) / max(cpu_after[1] - cpu_before[1], 1), 4
            ),
            "choose_plan": {"start": plans[0], "end": plans[1]},
            "phases_s": {k: round(v, 3) for k, v in phases.items()},
            "expected": self.expected.as_dict(),
        }
        print("# context " + json.dumps(context))
        print(f"# setup_s {setup_s:.4f} s (median of {len(setups)} set-ups: "
              + ", ".join(f"{s:.3f}" for s, _ in setups) + "; of which session start: "
              + ", ".join(f"{s:.3f}" for _, s in setups) + ")")
        print(f"# images_per_s {rate:.1f} 1/s (median of {len(rates)} jobs "
              f"of {self.wl.rows} rows; job s: "
              + ", ".join(f"{t:.3f}" for t in self.job_times) + ")")
        print(f"# fail_ratio {self.failed / max(self.attempted, 1):.4f} ratio "
              f"({self.failed} of {self.attempted} runs failed)")
        print(f"# peak_rss_mb {peak['total']:.1f} MB (summed PSS: JVM {peak['jvm']:.1f}"
              f" + python driver and workers {peak['python']:.1f})")
        if self.resume_times:
            print(f"# resume_s {statistics.median(self.resume_times):.4f} s "
                  f"(median of {len(self.resume_times)} resume legs)")
            print(f"# write_amp {statistics.median(self.write_amps):.4f} ratio "
                  "(output + manifest + snapshot bytes / input bytes)")
        if self.trace:
            traced = self.spans.seconds(
                "checkpoint.cycle" if self.wl.checkpointed else "pipeline.staged"
            )
            if self.job_times:
                print(f"# tracing overhead {traced - statistics.median(self.job_times):+.4f} s "
                      "(the traced job minus the median untraced one)")
            spans_file = WORK / "spans" / f"{self.wl.name}-seed{self.seed}.jsonl"
            self.spans.write(spans_file, **context)
            print(f"# spans written to {spans_file.relative_to(ROOT)}")
            metrics = {
                "session.start_s": statistics.median(s for _, s in setups),
                "pipeline.auto_plan": sum(p == "narrow" for p in plans),
                **layer_metrics,
            }
        else:
            metrics = {"setup_s": setup_s, "images_per_s": rate, "peak_rss_mb": peak["total"]}
        return {
            "correct": self.attempted > 0 and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": declared(metrics, "per_layer" if self.trace else "end_to_end"),
        }


def declared(values: dict[str, float], kind: str) -> dict[str, dict]:
    """``values`` with the units BENCHMARK.json declares; the names must be
    exactly the declared ones."""
    units = {m["name"]: m["unit"] for m in json.loads(SPEC.read_text())[kind]}
    if set(values) != set(units):
        raise RuntimeError(
            f"{kind} metrics {sorted(values)} differ from BENCHMARK.json {sorted(units)}"
        )
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args: argparse.Namespace) -> int:
    """Every workload in turn, each in its own process (a JVM cannot be
    relaunched inside one)."""
    rc = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)]
        )
        rc = rc or proc.returncode
    return rc


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    for sub in ("tmp", "local"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    # Spark, its Python workers, tempfile and both JVMs (spark-submit's
    # launcher and the driver) all stay inside the checkout
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = str(WORK / "tmp")
    result = Run(args).execute()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
