"""The repository benchmark: three workloads over the package's public
surface, every output checked against an independent oracle.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see README.md for why):

- ``metlink_schedule``: cold ``python -m etl_wlg_metlink_spark --schedule``
  child processes over freshly landed seeded snapshots, one shared
  checkpoint; every FeatureCollection is compared with
  ``pipelines.gtfs_fixture.oracle_features``.
- ``corpus_build``: ``sinks.corpus.write_corpus_build`` plus read-back
  audit in one session, alternating an emptied (cold) and a kept (warm)
  artifact store; the audit is compared with DuckDB's l42 oracle.
- ``lane_mix``: one pass over twelve catalog lanes in one session, each
  lane's rows compared with its DuckDB oracle.

Operations run closed-loop, one client, until ``--seconds`` have passed
(at least one). With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
and the tracing overhead. The line before it is a detail record: every
metric's median, tail percentile and sample count, the operation log
and the run metadata. Exit status is 0 only when every operation's
output was correct.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import gen  # noqa: E402
import probes  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_wlg_metlink_spark"

#: metlink_schedule: snapshots landed before each invocation, and
#: distinct vehicles per snapshot (plus ~10% repeated ids).
SNAPSHOTS_PER_INVOCATION = 8
VEHICLES_PER_SNAPSHOT = 720
#: The repository's sf test tables, copied unchanged: corpus_build reads
#: sf0.1's 5k documents, lane_mix every sf0.01 table.
CORPUS_DATA = os.path.join(HERE, "data", "sf0.1")
LANE_DATA = os.path.join(HERE, "data", "sf0.01")
LANES = (
    "m1_metlink_pipeline",
    "m4_metlink_bulk",
    "r24_shipping_priority",
    "r25_pricing_summary",
    "r28_min_cost_supplier",
    "x1_percentiles",
    "s5_watermark_dedup",
    "s7_stream_stream_join",
    "s12_trending_topk",
    "l6_minhash_near_dup",
    "l59_rrf_hybrid",
    "l70_rag_chunk_retrieval",
)
#: Lanes run once, untimed, before lane_mix's pass: they fill the
#: artifact store the pass then serves from.
PRIME_LANES = ("l6_minhash_near_dup", "l59_rrf_hybrid", "l70_rag_chunk_retrieval")
STATE_LANES = ("s5_watermark_dedup", "s7_stream_stream_join", "s12_trending_topk")
#: Lanes whose timed window a probe reaches into (the span on
#: ``sources.gtfs.entities_from_json`` and the streaming listener).
PROBED_LANES = ("m1_metlink_pipeline", *STATE_LANES)
ARTIFACT_KINDS = ("ivf_index", "verified_pairs", "cc_labels", "bm25_ranked", "minhash_hashed")
WORKLOADS = ("metlink_schedule", "corpus_build", "lane_mix")

#: (name, unit) of the end-to-end metrics; what each means per workload
#: is in README.md. Peak RSS is in the detail record only: the JVM heap
#: grows with GC timing, so it spread 20-40% between runs.
END_TO_END = (("setup_s", "s"), ("op_s", "s"), ("warm_s", "s"))


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    names = [
        ("session.build_session_s", "s"),
        ("streaming.runners.trigger_ms", "ms"),
        ("streaming.runners.add_batch_ms", "ms"),
        ("streaming.runners.query_planning_ms", "ms"),
        ("streaming.runners.offset_wal_ms", "ms"),
        ("streaming.runners.first_batch_ms", "ms"),
        ("streaming.runners.checkpoint_bytes", "bytes"),
        ("pipelines.metlink.run_ms", "ms"),
        ("pipelines.metlink.received", "count"),
        ("pipelines.metlink.submitted", "count"),
        ("sinks.geojson.submit_ms", "ms"),
        ("sinks.geojson.envelope_bytes", "bytes"),
    ]
    names += [
        (f"spark.snapshot.{k}", u)
        for k, u in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
            ("shuffle_write_bytes", "bytes"),
        )
    ]
    names += [
        ("baseline.local1_snapshot_s", "s"),
        ("sources.gtfs.entities_from_json_ms", "ms"),
        ("sinks.corpus.write_corpus_build_s", "s"),
        ("sinks.corpus.audit_collect_s", "s"),
        ("sinks.corpus.output_files", "count"),
        ("sinks.corpus.output_bytes", "bytes"),
    ]
    names += [
        (f"sinks.corpus.{k}", u)
        for k, u in (
            ("stages", "count"), ("tasks", "count"), ("shuffle_read_bytes", "bytes"),
            ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("gc_ms", "ms"),
        )
    ]
    names += [(f"operators.llm_pipeline.artifact_builds.{k}", "count") for k in ARTIFACT_KINDS]
    names += [
        ("operators.llm_pipeline.warm_artifact_builds", "count"),
        ("operators.llm_pipeline.artifact_store_bytes", "bytes"),
    ]
    for lane in LANES:
        names += [
            (f"lane.{lane}_s", "s"),
            (f"lane.{lane}.stages", "count"),
            (f"lane.{lane}.tasks", "count"),
            (f"lane.{lane}.shuffle_bytes", "bytes"),
        ]
    for lane in STATE_LANES:
        names += [(f"lane.{lane}.state_rows", "count"), (f"lane.{lane}.state_memory_bytes", "bytes")]
    names.append(("trace.overhead_ratio", "ratio"))
    return names


def log(msg: str) -> None:
    print(f"[graftbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summary(xs, unit: str) -> dict:
    """Median plus the highest percentile that has at least ten samples
    beyond it (none below 20 samples), with the sample count."""
    out = {"median": median(xs), "n": len(xs), "unit": unit, "tail": None}
    for pct in (99.9, 99, 95, 90, 75):
        if len(xs) * (1 - pct / 100) >= 10:
            ranked = sorted(xs)
            out["tail"] = {"pct": pct, "value": ranked[min(len(xs) - 1, math.ceil(pct / 100 * len(xs)) - 1)]}
            break
    return out


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end in ``suffix``."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(base, name))
    return files, size


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path, best = os.path.realpath(path), ("", "unknown")
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return best[1]


def git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def isolate(run_dir: str) -> dict[str, str]:
    """Per-run directories for everything the program writes, exported
    before the package is imported (its artifact root is fixed at
    import time). Scratch stays on the checkout's own disk."""
    dirs = {
        k: os.path.join(run_dir, k)
        for k in ("landing", "checkpoint", "artifacts", "scratch", "warehouse", "data", "tmp", "out")
    }
    for d in dirs.values():
        os.makedirs(d)
    cpus = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: the JVM would otherwise write hsperfdata under
    # /tmp. PYTHONUNBUFFERED: a CLI child's stdout is a pipe, and each
    # FeatureCollection must reach it when printed for its arrival time.
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_ARTIFACT_DIR=dirs["artifacts"],
        SPARK_GRAFT_SCRATCH_DIR=dirs["scratch"],
        SPARK_LOCAL_DIRS=os.path.join(dirs["scratch"], "spark_local"),
        TMPDIR=dirs["tmp"],
        JAVA_TOOL_OPTIONS=" ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={dirs['tmp']}", "-XX:-UsePerfData") if o
        ),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONUNBUFFERED="1",
    )
    sys.path.insert(0, ROOT)
    os.chdir(dirs["warehouse"])
    return dirs


def load_comparator():
    """The repository's correctness comparison (row count, column names,
    value-class types, multiset of normalised values)."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)

    def compare(schema, srows, expected) -> str | None:
        dcols, dtypes, drows = expected
        scols = [f.name for f in schema.fields]
        stypes = {f.name: cc._spark_type_label(f.dataType) for f in schema.fields}
        if len(srows) != len(drows):
            return f"rowcount spark={len(srows)} duck={len(drows)}"
        if sorted(scols) != sorted(dcols):
            return f"cols spark={sorted(scols)} duck={sorted(dcols)}"
        bad = [f"{c}: spark={stypes[c]} duck={t}" for c, t in zip(dcols, dtypes) if stypes[c] != t]
        if bad:
            return "types " + "; ".join(bad)
        sm, dm = cc._multiset(srows, scols), cc._multiset(drows, dcols)
        if sm != dm:
            return f"values spark-only={list((sm - dm).items())[:2]} duck-only={list((dm - sm).items())[:2]}"
        return None

    def oracle(con, sql):
        # Materialise every CTE: DuckDB otherwise re-evaluates a CTE at
        # each reference, and l42's label-propagation chain references
        # each level twice (49 s instead of 0.7 s at 5k documents). The
        # rows are the same; only the evaluation order changes.
        rel = con.sql(re.sub(r"(\b\w+) AS \(\n", r"\1 AS MATERIALIZED (\n", sql))
        return list(rel.columns), [cc._duck_type_label(str(t)) for t in rel.types], rel.fetchall()

    return compare, oracle


def duck_views(data_dir: str):
    import duckdb

    from etl_wlg_metlink_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# -- process control ----------------------------------------------------------


def reap_group(pgid: int, timeout: float = 60.0) -> None:
    """Wait until every process of group ``pgid`` (a CLI child and the
    JVM it launched) has exited; kill the rest after ``timeout``."""

    deadline = time.monotonic() + timeout
    while any(p.pgrp == pgid and p.state != "Z" for p in probes.processes()):
        if time.monotonic() > deadline:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(pgid, signal.SIGKILL)
            deadline = time.monotonic() + 10
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def replay_setup(args, times: int) -> list[float]:
    """Replays of this run's own set-up path (``--setup-only``) in fresh
    interpreters, each reporting process start → set-up done, so that
    ``setup_s`` is a median. Called while this process holds no JVM."""
    out = []
    for _ in range(times):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", "0", "--setup-only"],
            check=True, capture_output=True, text=True, timeout=120,
        )
        out.append(float(proc.stdout.strip().splitlines()[-1]))
    return out


# -- metlink_schedule -----------------------------------------------------------


def invoke(cmd: list[str], dirs: dict, ckpt: str, envs: list[dict], oracle_features) -> dict:
    """One CLI invocation over the snapshots just landed: times the
    process and each FeatureCollection's arrival, then checks every
    FeatureCollection against the oracle."""
    errlog = open(os.path.join(dirs["tmp"], "cli.stderr"), "a")
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=errlog, cwd=dirs["warehouse"], start_new_session=True
    )
    arrivals, lines = [], []
    try:
        for line in proc.stdout:
            arrivals.append(time.perf_counter() - t0)
            lines.append(line)
        rc = proc.wait()
        elapsed = time.perf_counter() - t0
    finally:
        if proc.poll() is None:  # interrupted: take the child's JVM down too
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        reap_group(proc.pid)
        errlog.close()
    error = None
    if rc != 0:
        error = f"exit status {rc}"
    elif len(lines) != len(envs):
        error = f"{len(lines)} FeatureCollections for {len(envs)} snapshots"
    fcs = [json.loads(x) for x in lines] if error is None else []
    for i, (fc, env) in enumerate(zip(fcs, envs)):
        want = {"type": "FeatureCollection", "features": oracle_features(env["entity"])}
        if fc != want:
            error = f"snapshot {i}: FeatureCollection differs from the oracle"
            break
    return {
        "ok": error is None,
        "error": error,
        "invocation_s": elapsed,
        "first_fc_s": arrivals[0] if arrivals else None,
        "snapshot_s": [b - a for a, b in zip(arrivals, arrivals[1:])],
        "features": sum(len(fc["features"]) for fc in fcs),
        "envelope_bytes": [len(x) for x in lines],
        "received": [len(e["entity"]) for e in envs],
        "submitted": [len(fc["features"]) for fc in fcs],
        "checkpoint_bytes": dir_stats(ckpt)[1],
    }


def metlink_schedule(args, dirs: dict, traced: bool) -> dict:
    from etl_wlg_metlink_spark.pipelines.gtfs_fixture import oracle_features

    envs = gen.land_snapshots(dirs["landing"], args.seed, 0, SNAPSHOTS_PER_INVOCATION, VEHICLES_PER_SNAPSHOT)
    own_setup = time.perf_counter() - T_START
    if args.setup_only:
        return {"setup_s": own_setup}
    setups = [own_setup, *replay_setup(args, 2)]

    def cli(ckpt: str, *extra: str, script=None) -> list[str]:
        program = script or ["-m", PACKAGE]
        return [sys.executable, *program, "--schedule", dirs["landing"], "--checkpoint", ckpt, *extra]

    # The benchmark process holds no JVM while a CLI child runs.
    n, ops = SNAPSHOTS_PER_INVOCATION, []

    def run(i: int, kind: str, cmd: list[str], ckpt: str) -> dict:
        log(f"invocation {i} ({kind})")
        op = invoke(cmd, dirs, ckpt, envs, oracle_features) | {"kind": kind}
        log(f"invocation {i}: {op['invocation_s']:.2f}s ok={op['ok']} {op['error'] or ''}")
        ops.append(op)
        return op

    t_begin = time.perf_counter()
    if not traced:
        for i in itertools.count():
            if i:
                if time.perf_counter() - t_begin >= args.seconds:
                    break
                envs = gen.land_snapshots(dirs["landing"], args.seed, i * n, n, VEHICLES_PER_SNAPSHOT)
            run(i, "plain", cli(dirs["checkpoint"]), dirs["checkpoint"])
    else:
        # Invocation 0 grows the checkpoint; the plain, traced and
        # local[1] invocations then each start from a copy of that same
        # checkpoint state over the same 8 new snapshots.
        run(0, "plain", cli(dirs["checkpoint"]), dirs["checkpoint"])
        envs = gen.land_snapshots(dirs["landing"], args.seed, n, n, VEHICLES_PER_SNAPSHOT)
        trace_out = os.path.join(dirs["tmp"], "trace.json")
        for i, kind in enumerate(("paired", "traced", "local1"), start=1):
            ckpt = os.path.join(dirs["tmp"], f"checkpoint-{kind}")
            shutil.copytree(dirs["checkpoint"], ckpt)
            cmd = {
                "paired": cli(ckpt),
                # traced_cli.py takes the trace file before the CLI's arguments
                "traced": cli(ckpt, script=[os.path.join(HERE, "traced_cli.py"), trace_out]),
                "local1": cli(ckpt, "--master", "local[1]"),
            }[kind]
            op = run(i, kind, cmd, ckpt)
            if kind == "traced" and op["ok"]:
                with open(trace_out, encoding="utf-8") as f:
                    op["trace"] = json.load(f)

    timed = [o for o in ops if o["kind"] in ("plain", "paired")]
    detail = {
        "setup_s": (setups, "s"),
        "invocation_s": ([o["invocation_s"] for o in timed], "s"),
        "first_fc_s": ([o["first_fc_s"] for o in timed if o["first_fc_s"] is not None], "s"),
        "snapshot_s": ([x for o in timed for x in o["snapshot_s"]], "s"),
        "features_per_s": ([o["features"] / o["invocation_s"] for o in timed], "1/s"),
    }
    e2e = {
        "setup_s": median(setups),
        "op_s": median(detail["invocation_s"][0]),
        "warm_s": median(detail["snapshot_s"][0]),
    }
    layers = metlink_layers(ops) if traced and all(o["ok"] for o in ops) else {}
    return {"ops": ops, "detail": detail, "e2e": e2e, "layers": layers}


def stream_layers(events: list[dict]) -> dict:
    """``streaming.runners`` metrics from progress events: medians per
    micro-batch that read input, and the median over queries of each
    query's first such batch."""
    batches = [e for e in events if e["rows"]]
    dur = [e["duration_ms"] for e in batches]
    firsts = {}
    for e in batches:
        firsts.setdefault(e["query"], e["duration_ms"])
    return {
        "streaming.runners.trigger_ms": median([d.get("triggerExecution", 0) for d in dur]),
        "streaming.runners.add_batch_ms": median([d.get("addBatch", 0) for d in dur]),
        "streaming.runners.query_planning_ms": median([d.get("queryPlanning", 0) for d in dur]),
        "streaming.runners.offset_wal_ms": median(
            [d.get("latestOffset", 0) + d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]
        ),
        "streaming.runners.first_batch_ms": median([d.get("triggerExecution", 0) for d in firsts.values()]),
    }


def metlink_layers(ops: list[dict]) -> dict:
    by_kind = {o["kind"]: o for o in ops}
    tr, plain = by_kind["traced"], by_kind["paired"]
    trace = tr["trace"]
    spans = trace["spans"]

    def span_ms(name):
        return [1000 * (s["end"] - s["start"]) for s in spans if s["name"] == name]

    batches = list(trace["batches"].values())
    layers = stream_layers(trace["progress"]) | {
        "session.build_session_s": median(span_ms("session.build_session")) / 1000,
        "streaming.runners.checkpoint_bytes": tr["checkpoint_bytes"],
        "pipelines.metlink.run_ms": median(span_ms("pipelines.metlink.run")),
        "pipelines.metlink.received": median(tr["received"]),
        "pipelines.metlink.submitted": median(tr["submitted"]),
        "sinks.geojson.submit_ms": median(span_ms("sinks.geojson.submit")),
        "sinks.geojson.envelope_bytes": median(tr["envelope_bytes"]),
        "baseline.local1_snapshot_s": median(by_kind["local1"]["snapshot_s"]),
        "trace.overhead_ratio": tr["invocation_s"] / plain["invocation_s"],
    }
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_write_bytes"):
        layers[f"spark.snapshot.{k}"] = median([b[k] for b in batches])
    return layers


# -- corpus_build ---------------------------------------------------------------


def corpus_build(args, dirs: dict, traced: bool) -> dict:
    """Inputs and session for ``corpus_build``; the session is stopped
    however the rounds end. The set-up replays and the oracle run after
    the builds, outside set-up and every timed window."""

    shutil.copytree(CORPUS_DATA, dirs["data"], dirs_exist_ok=True)
    from etl_wlg_metlink_spark import session

    t = time.perf_counter()
    spark = session.build_session(app_name="graftbench-corpus")
    build_s = time.perf_counter() - t
    # No warm-up: the session's first build is the first cold operation,
    # JIT and codegen included, as a fresh `--corpus-build` pays them.
    setup_s = time.perf_counter() - T_START
    try:
        if args.setup_only:
            return {"setup_s": setup_s}
        result = corpus_rounds(args, dirs, traced, spark, build_s)
    finally:
        stop_spark(spark)
    # One replay: each starts a JVM (about 7 s), and the run budget has
    # room for one.
    setups = [setup_s, *replay_setup(args, 1)]
    result["detail"]["setup_s"] = (setups, "s")
    result["e2e"]["setup_s"] = median(setups)
    compare, oracle = load_comparator()
    from __spark_entry__ import oracle_sql

    expected = oracle(duck_views(dirs["data"]), oracle_sql()["l42_corpus_build"])
    for op in result["ops"]:
        if op["ok"]:
            schema, rows, written = op.pop("output")
            op["error"] = compare(schema, rows, expected)
            kept = sum(r["n_kept"] for r in rows)
            if op["error"] is None and written != kept:
                op["error"] = f"written {written} != sum(n_kept) {kept}"
            op["ok"] = op["error"] is None
        log(f"check {op['mode']} {op['kind']} build: ok={op['ok']} {op['error'] or ''}")
    return result


def corpus_rounds(args, dirs, traced, spark, build_s) -> dict:
    """Cold and warm builds in ``spark`` until ``args.seconds`` pass. Each
    operation keeps its audit rows for the check after the session."""

    from etl_wlg_metlink_spark.operators import llm_pipeline
    from etl_wlg_metlink_spark.sinks import corpus

    out = os.path.join(dirs["out"], "corpus")

    def artifact_entries() -> dict[str, int]:
        root = dirs["artifacts"]
        return {k: len(os.listdir(os.path.join(root, k))) if os.path.isdir(os.path.join(root, k)) else 0
                for k in ARTIFACT_KINDS}

    def one(kind: str, probed: bool) -> dict:
        """One build plus read-back audit; ``probed`` adds the layer
        readings taken around it, all outside the timed window."""
        if kind == "cold":
            llm_pipeline.clear_artifact_caches(remove_persisted=True)
        if probed:
            before, first_job = artifact_entries(), probes.last_job_id(spark)
        t0 = time.perf_counter()
        try:
            counters, audit = corpus.write_corpus_build(spark, dirs["data"], out)
            t1 = time.perf_counter()
            rows = audit.collect()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed build is a failed operation
            traceback.print_exc()
            t1 = t2 = time.perf_counter()
            error, output = f"raised {type(e).__name__}: {e}", None
        else:
            error, output = None, (audit.schema, rows, counters["written"])
        op = {"kind": kind, "ok": error is None, "error": error, "output": output,
              "op_s": t2 - t0, "write_s": t1 - t0, "audit_s": t2 - t1}
        if probed:
            op["work"] = probes.spark_work(spark, lambda j, _g: "op" if j > first_job else None).get("op", {})
            after = artifact_entries()
            op["artifact_builds"] = {k: after[k] - before[k] for k in ARTIFACT_KINDS}
            op["artifact_store_bytes"] = dir_stats(dirs["artifacts"])[1]
            op["output_files"], op["output_bytes"] = dir_stats(out, ".parquet")
        log(f"{kind} build {op['op_s']:.2f}s {error or ''}")
        return op

    # A round is one cold build and three warm ones (a warm build is
    # short, so its median needs more samples). A traced run adds a
    # second round with the probes on, one cold and one warm build; that
    # warm build against the first round's gives the tracing overhead
    # (cold builds differ by the session's warm-up, so they are not paired).
    modes = ("plain", "traced") if traced else itertools.repeat("plain")
    ops, t_begin = [], time.perf_counter()
    for r, mode in enumerate(modes):
        if not traced and r and time.perf_counter() - t_begin >= args.seconds:
            break
        for kind in ("cold", "warm") if mode == "traced" else ("cold", "warm", "warm", "warm"):
            ops.append(one(kind, mode == "traced") | {"round": r, "mode": mode})

    timed = [o for o in ops if o["mode"] == "plain"]
    cold = [o["op_s"] for o in timed if o["kind"] == "cold"]
    warm = [o["op_s"] for o in timed if o["kind"] == "warm"]
    detail = {"corpus_build_cold_s": (cold, "s"), "corpus_build_warm_s": (warm, "s")}
    e2e = {"op_s": median(cold), "warm_s": median(warm)}
    layers = corpus_layers(ops, build_s) if traced else {}
    return {"ops": ops, "detail": detail, "e2e": e2e, "layers": layers}


def corpus_layers(ops: list[dict], build_s: float) -> dict:
    """Per-layer numbers from the traced round: its cold build is the
    session's second, so JIT warm-up is out of the layer times."""
    traced = {o["kind"]: o for o in ops if o["mode"] == "traced"}
    plain_warm = median([o["op_s"] for o in ops if o["mode"] == "plain" and o["kind"] == "warm"])
    cold, warm = traced["cold"], traced["warm"]
    layers = {
        "session.build_session_s": build_s,
        "sinks.corpus.write_corpus_build_s": cold["write_s"],
        "sinks.corpus.audit_collect_s": cold["audit_s"],
        "sinks.corpus.output_files": cold["output_files"],
        "sinks.corpus.output_bytes": cold["output_bytes"],
        "operators.llm_pipeline.warm_artifact_builds": sum(warm["artifact_builds"].values()),
        "operators.llm_pipeline.artifact_store_bytes": cold["artifact_store_bytes"],
        "trace.overhead_ratio": warm["op_s"] / plain_warm,
    }
    for k in ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms"):
        layers[f"sinks.corpus.{k}"] = cold["work"].get(k, 0)
    for k in ARTIFACT_KINDS:
        layers[f"operators.llm_pipeline.artifact_builds.{k}"] = cold["artifact_builds"][k]
    return layers


# -- lane_mix -------------------------------------------------------------------


def lane_mix(args, dirs: dict, traced: bool) -> dict:
    """Inputs, session and a primed artifact store for ``lane_mix``; the
    session is stopped however the passes end. The oracles run after the
    passes, outside set-up and every timed window."""

    shutil.copytree(LANE_DATA, dirs["data"], dirs_exist_ok=True)
    from __spark_entry__ import queries
    from etl_wlg_metlink_spark import session

    t = time.perf_counter()
    spark = session.build_session(app_name="graftbench-lanes")
    build_s = time.perf_counter() - t
    try:
        for lane in PRIME_LANES:
            log(f"prime {lane}")
            queries()[lane](spark, dirs["data"]).write.format("noop").mode("overwrite").save()
        setup_s = time.perf_counter() - T_START
        result = lane_passes(args, dirs, traced, spark, build_s)
    finally:
        stop_spark(spark)
    # One sample: a replay of this set-up (JVM start and priming) takes
    # about 20 s, which the run budget does not have.
    result["detail"]["setup_s"] = ([setup_s], "s")
    result["e2e"]["setup_s"] = setup_s
    compare, oracle = load_comparator()
    from __spark_entry__ import oracle_sql

    con, sql = duck_views(dirs["data"]), oracle_sql()
    expected = {lane: oracle(con, sql[lane]) for lane in LANES}
    for op in result["ops"]:
        errors = op["error"] or {}
        for lane, schema, rows in op.pop("outputs"):
            err = compare(schema, rows, expected[lane])
            if err and lane not in errors:
                errors[lane] = err
        op["ok"], op["error"] = not errors, errors or None
        log(f"check pass: ok={op['ok']} {errors or ''}")
    return result


def lane_passes(args, dirs, traced, spark, build_s) -> dict:
    """Lane passes until ``args.seconds`` pass. Each pass keeps every
    lane's rows for the check after the session."""

    from __spark_entry__ import queries
    from etl_wlg_metlink_spark.sources import gtfs

    fns = queries()
    sf = dirs["data"]

    def run_lane(lane: str, errors: dict, outputs: list) -> float:
        """Time one lane (plan, execute, collect); its rows go to
        ``outputs``, an exception to ``errors``."""
        t0 = time.perf_counter()
        try:
            df = fns[lane](spark, sf)
            rows = df.collect()
        except Exception as e:  # noqa: BLE001 — a failed lane is a failed operation
            traceback.print_exc()
            errors.setdefault(lane, f"raised {type(e).__name__}: {e}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        outputs.append((lane, df.schema, rows))
        return dt

    ops, t_begin, p = [], time.perf_counter(), 0
    layer_runs: dict[str, dict] = {}
    spans, progress = probes.Spans(), probes.ProgressLog()
    while p == 0 or (not traced and time.perf_counter() - t_begin < args.seconds):
        times, errors, outputs = {}, {}, []
        for lane in LANES:
            first_job = probes.last_job_id(spark) if traced else None
            times[lane] = dt = run_lane(lane, errors, outputs)
            log(f"pass {p} {lane} {dt:.2f}s {'raised' if lane in errors else ''}")
            if not traced:
                continue
            run = layer_runs[lane] = {
                "work": probes.spark_work(spark, lambda j, _g: "op" if j > first_job else None).get("op", {})
            }
            if lane not in PROBED_LANES:
                continue
            # Probes sit inside the timed window only on these lanes: run
            # the lane again with them on, then once more without, for
            # the tracing overhead.
            original = gtfs.entities_from_json
            spans.wrap(gtfs, "entities_from_json")
            progress.attach(spark)
            try:
                run["traced_s"] = run_lane(lane, errors, outputs)
            finally:
                progress.detach(spark)
                gtfs.entities_from_json = original
            run["plain_s"] = run_lane(lane, errors, outputs)
            events = run["progress"] = progress.take()
            run["state_rows"] = max((e["state_rows"] for e in events), default=0)
            run["state_memory_bytes"] = max((e["state_memory_bytes"] for e in events), default=0)
        ops.append({"kind": "pass", "ok": not errors, "error": errors or None,
                    "op_s": sum(times.values()), "lanes": times, "outputs": outputs})
        p += 1

    passes = [o["op_s"] for o in ops]
    geomeans = [math.exp(statistics.mean(math.log(t) for t in o["lanes"].values())) for o in ops]
    detail = {"lane_pass_s": (passes, "s"), "lane_geomean_s": (geomeans, "s")}
    for lane in LANES:
        detail[f"lane.{lane}_s"] = ([o["lanes"][lane] for o in ops], "s")
    e2e = {"op_s": median(passes), "warm_s": median(geomeans)}
    layers = {}
    if traced:
        # the streaming catalog lanes' micro-batches, as for metlink's
        layers = stream_layers([e for lane in STATE_LANES for e in layer_runs[lane]["progress"]])
        layers["session.build_session_s"] = build_s
        m1 = spans.durations("sources.gtfs.entities_from_json")
        layers["sources.gtfs.entities_from_json_ms"] = 1000 * median(m1)
        for lane, run in layer_runs.items():
            layers[f"lane.{lane}_s"] = ops[0]["lanes"][lane]
            layers[f"lane.{lane}.stages"] = run["work"].get("stages", 0)
            layers[f"lane.{lane}.tasks"] = run["work"].get("tasks", 0)
            layers[f"lane.{lane}.shuffle_bytes"] = run["work"].get("shuffle_read_bytes", 0) + run["work"].get(
                "shuffle_write_bytes", 0)
            if lane in STATE_LANES:
                layers[f"lane.{lane}.state_rows"] = run["state_rows"]
                layers[f"lane.{lane}.state_memory_bytes"] = run["state_memory_bytes"]
        probed = [layer_runs[lane] for lane in PROBED_LANES]
        layers["trace.overhead_ratio"] = sum(r["traced_s"] for r in probed) / sum(r["plain_s"] for r in probed)
    return {"ops": ops, "detail": detail, "e2e": e2e, "layers": layers}


# -- entry point ----------------------------------------------------------------


def _terminate(signum, _frame):
    # unwind through the finally blocks that stop Spark and CLI children
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # metlink_schedule and corpus_build: stop after set-up, print its time
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"graftbench: no {PACKAGE} package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".graftbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    dirs = isolate(run_dir)

    sampler = probes.ProcSampler()
    sampler.start()
    traced = bool(args.trace)
    try:
        workload = {"metlink_schedule": metlink_schedule, "corpus_build": corpus_build, "lane_mix": lane_mix}
        result = workload[args.workload](args, dirs, traced)
    finally:
        sampler.stop()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))
    if args.setup_only:
        print(result["setup_s"])
        return 0

    ops = result["ops"]
    failed = sum(not o["ok"] for o in ops)
    detail = {name: summary([float(x) for x in xs], unit) for name, (xs, unit) in result["detail"].items()}
    detail["error_rate"] = {"median": failed / len(ops), "n": len(ops), "unit": "ratio", "tail": None}
    detail["peak_rss_mb"] = {"median": sampler.peak_bytes / 2**20, "n": 1, "unit": "MB", "tail": None}
    e2e = result["e2e"]
    if traced:
        layers = result["layers"]
        metrics = {name: {"value": float(layers.get(name, 0)), "unit": unit} for name, unit in per_layer_names()}
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in END_TO_END}
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": len(os.sched_getaffinity(0)),
        "steal_pct": sampler.steal_pct,
        "scratch_backend": fs_type(ROOT),
        "git_commit": git_commit(),
        "partial": True,
        "workloads_run": [args.workload],
    }
    record = {"meta": meta, "metrics": detail, "ops": [
        {k: v for k, v in o.items() if k not in ("trace", "work")} for o in result["ops"]
    ]}
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        code = main()
    except Exception:  # noqa: BLE001 — report, print no result, fail the run
        traceback.print_exc()
        code = 3
    raise SystemExit(code)
