"""End-to-end benchmark of the real jobs, in a fresh Spark driver
process per run:

* ``pipeline`` — one clean run of ``jobs/pipeline.py`` over a seeded
  corpus;
* ``curate`` — one clean run of ``jobs.curate.run`` with lineage
  commits and the substring and DSIR stages on, over a seeded corpus
  with planted duplicates, leakage and shared passages.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 40 --trace 0

Prints a readable summary, then as its LAST line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics of an untraced run; ``--trace 1`` runs
the workload with the Spark event log on and reports the per-layer
ledger folded from that log.  The work of a run is fixed by the seeded
inputs; ``--seconds`` is accepted as the nominal measured time and
never read as a timer, so a slow host cannot change what a run does.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(REPO))

WORKLOADS = ("pipeline", "curate")
# a run's whole wall, input build and setup included, is capped here,
# leaving room to stop the driver and clean up within 180 s
RUN_DEADLINE_S = 160.0
DRIVER_MEM = "2g"

SPARK_DEFAULTS = """\
spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp}
"""
EVENT_LOG = """\
spark.eventLog.enabled true
spark.eventLog.dir file://{log}
spark.eventLog.compress false
spark.eventLog.rolling.enabled false
"""


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid → (ppid, session id, state) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(d)] = (int(fields[1]), int(fields[3]), fields[0])
    return out


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of ``root_pid`` and all its descendants
    (the driver interpreter, its JVM and the Python workers)."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and its live
    descendants, including the children each has reaped (the Python
    daemon reaps its workers)."""
    ticks = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _stop_session(sid: int) -> None:
    """Kill whatever the child left in its session and wait until every
    such process has ended (zombies excepted: their parent reaps)."""
    try:
        os.killpg(sid, signal.SIGKILL)
    except OSError:
        pass
    for _ in range(200):
        alive = [p for p, (_, s, st) in _proc_table().items() if s == sid and st != "Z"]
        if not alive:
            return
        time.sleep(0.05)


def run_child(workload: str, inputs: Path, work: Path, cpus: int, traced: bool, deadline: float) -> dict:
    """One fresh driver process; returns its result plus ``setup_s``
    and ``peak_rss_mb``, or raises RuntimeError with its log tail."""
    for d in ("tmp", "local", "conf", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    conf = SPARK_DEFAULTS.format(tmp=work / "tmp")
    if traced:
        conf += EVENT_LOG.format(log=work / "eventlog")
    (work / "conf" / "spark-defaults.conf").write_text(conf)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (str(REPO), env.get("PYTHONPATH")) if p),
        SPARK_CONF_DIR=str(work / "conf"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
    )
    result_path, log_path = work / "result.json", work / "child.log"
    cmd = [
        sys.executable, str(HERE / "child.py"), "--workload", workload,
        "--inputs", str(inputs), "--work", str(work), "--result", str(result_path),
        "--cpus", str(cpus),
    ]
    peak = [0]
    with open(log_path, "w") as log:
        t_spawn = time.time()
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)

        def sample() -> None:
            while p.poll() is None:
                peak[0] = max(peak[0], tree_rss_bytes(p.pid))
                time.sleep(0.2)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_session(p.pid)
            p.wait()
            sampler.join()
    if rc != 0 or not result_path.exists():
        tail = log_path.read_text(errors="replace").splitlines()[-40:]
        why = "timed out" if rc is None else f"exited {rc}"
        raise RuntimeError(f"{workload} driver {why}:\n" + "\n".join(tail))
    res = json.loads(result_path.read_text())
    res["setup_s"] = res["ready_at"] - t_spawn
    res["peak_rss_mb"] = peak[0] / (1024 * 1024)
    return res


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": (res["setup_s"], "s"),
        "items_per_s": (res["items"] / res["clean_s"], "1/s"),
        "cpu_ms_per_item": (1e3 * res["clean_cpu_s"] / res["items"], "ms"),
    }


STAGES = {
    "pipeline": ("ingest", "geocode"),
    "curate": ("quality", "decontam", "dedup", "substring", "select", "pack"),
}
SPANS = [f"{w}.{s}" for w, stages in STAGES.items() for s in stages]
PY_MB_SPANS = ("pipeline.ingest", "pipeline.geocode", "curate.quality")


def per_layer(res: dict, log_dir: Path) -> dict:
    """The per-layer ledger of a traced run: five fields for every
    stage span (0 for the other workload's stages), the named extras,
    and the traced run's own end-to-end numbers."""
    from perfbench import ledger

    rec = res["clean_rec"]
    spans = ledger.stage_spans(rec["markers"], rec["t_start"], rec["t_end"])
    folded = ledger.fold(ledger.read_events(log_dir), spans)
    wall = {name: b - a for name, a, b in spans}
    zero = dict.fromkeys(ledger.FIELDS, 0.0)
    metrics: dict[str, tuple[float, str]] = {}
    for name in SPANS:
        f = folded.get(name, zero)
        metrics[f"{name}.wall_s"] = (wall.get(name, 0.0), "s")
        metrics[f"{name}.cpu_s"] = (f["cpu_s"], "s")
        metrics[f"{name}.py_s"] = (f["py_s"], "s")
        metrics[f"{name}.shuffle_mb"] = (f["shuffle_write_mb"], "MB")
        metrics[f"{name}.jobs"] = (f["jobs"], "count")
    for name in PY_MB_SPANS:
        f = folded.get(name, zero)
        metrics[f"{name}.py_mb"] = (f["py_sent_mb"] + f["py_returned_mb"], "MB")
    tot = ledger.total(folded, folded)
    metrics["lineage.commit_s"] = (sum(b - a for a, b, _ in rec["commits"]), "s")
    metrics["job.gc_s"] = (tot["gc_s"], "s")
    metrics["job.spill_mb"] = (tot["spill_mb"], "MB")
    metrics["job.driver_s"] = (res["clean_s"] - tot["busy_s"], "s")
    # traced minus untraced end-to-end numbers is the tracing overhead
    for k, (v, u) in end_to_end(res).items():
        metrics[f"traced.{k}"] = (v, u)
    metrics["traced.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("earth_data_kit_spark/session.py", "jobs/pipeline.py", "jobs/curate.py", "__spark_entry__.py"):
        if not (REPO / need).is_file():
            print(f"perfbench: {need} not found; run from a full checkout of the repository", file=sys.stderr)
            return 2
    from perfbench import corpus

    # a terminated benchmark still ends the driver it started (the
    # finally clauses below) before it exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.time()
    cpus = _cpus()
    tmp = REPO / ".perfbench_tmp" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    try:
        meta = corpus.build(args.workload, args.seed, tmp / "inputs")
        work = tmp / "run"
        res = run_child(args.workload, tmp / "inputs", work, cpus, bool(args.trace), t0 + RUN_DEADLINE_S)
        fails = [f"{op}: {msg}" for op, msgs in res["fails"].items() for msg in msgs]
        attempted = len(res["fails"])
        failed = sum(bool(m) for m in res["fails"].values())
        for f in fails:
            print(f"perfbench: CHECK FAILED {f}", file=sys.stderr)
        e2e = end_to_end(res)
        metrics = per_layer(res, work / "eventlog") if args.trace else e2e
        summary = "  ".join(f"{k}={v:.4g} {u}" for k, (v, u) in e2e.items())
        summary += f"  peak_rss_mb={res['peak_rss_mb']:.0f} MB"
        print(
            f"{args.workload} seed={args.seed} items={meta.get('n_pages', meta['n_docs'])} cpus={cpus} "
            f"trace={args.trace}: {summary}  error_rate={failed / attempted:.3g} "
            f"({failed}/{attempted} ops failed)  [{time.time() - t0:.1f} s]"
        )
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
