#!/usr/bin/env python
"""North-rule scaling evidence on a REAL multi-executor standalone cluster.

BASELINE.json's rule says: "run via spark-submit --py-files on a
multi-executor cluster at two cluster sizes (N and 4N executors) with
throughput scaling efficiency >=0.8".  scripts/bench_scaling.py evidences
this with local[N] thread counts (the sandbox proxy the driver mandated);
THIS script removes the proxy: it boots a genuine Spark standalone cluster
on the box — one Master JVM + 4 Worker JVMs — and submits the identical
extraction job via the real `spark-submit --py-files` surface twice:

  * N  executors: spark.cores.max = 1 * executor_cores  -> 1 executor JVM
  * 4N executors: spark.cores.max = 4 * executor_cores  -> 4 executor JVMs
    (one per worker — genuinely separate executor processes, netty shuffle,
    Arrow batches crossing real process boundaries)

Workers stay up across every trial, so the cluster itself is identical at
both sizes; only the executor count differs — exactly the N vs 4N contract.
Trials are interleaved (N, 4N, N, 4N, ...) and bracketed by pure-CPU probes
so co-tenant drift is visible, same protocol as bench_scaling.py.  With
executor_cores=2 the two sizes use 2 and 8 real cores — inside this box's
linear region (the 32 vCPUs are ~16 real cores; see BASELINE.md).

Usage:
  python scripts/bench_cluster.py [--docs 100000] [--trials 2]
      [--executors 1 4] [--executor-cores 2] [--executor-mem 4g]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import socket
import subprocess
import sys
import tempfile
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))
sys.path.insert(0, REPO)

from bench_scaling import cpu_ceiling  # noqa: E402

MASTER_PORT = 7077
MASTER_UI_PORT = 8089
HOST = "127.0.0.1"


def spark_bin(name: str) -> str:
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "bin", name)


def wait_port(port: int, timeout: float = 60.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        try:
            with socket.create_connection((HOST, port), timeout=1):
                return
        except OSError:
            time.sleep(0.5)
    raise TimeoutError(f"port {port} not listening after {timeout}s")


def wait_workers(n: int, timeout: float = 90.0) -> None:
    """Poll the master's JSON endpoint until n workers are ALIVE."""
    t0 = time.time()
    url = f"http://{HOST}:{MASTER_UI_PORT}/json/"
    while time.time() - t0 < timeout:
        try:
            with urllib.request.urlopen(url, timeout=2) as r:
                data = json.loads(r.read())
            alive = [w for w in data.get("workers", [])
                     if w.get("state") == "ALIVE"]
            if len(alive) >= n:
                return
        except OSError:
            pass
        time.sleep(1)
    raise TimeoutError(f"{n} workers not registered after {timeout}s")


def launch(cls: str, args: list[str], log: str, env: dict,
           cpus: str | None = None) -> subprocess.Popen:
    cmd = [spark_bin("spark-class"), cls, *args]
    if cpus:
        # CPU affinity is inherited by every child: the executor JVM a
        # worker forks AND the python UDF workers the executor forks all
        # stay inside the worker's core budget — the sandbox analog of a
        # real cluster node's cgroup. Unpinned, a "2-core" worker's JVM
        # service threads + python workers borrow idle cores from the box
        # (measured lane_busy 2.7-3.0 CPUs), inflating the 1-executor
        # baseline and understating N->4N scaling.
        cmd = ["taskset", "-c", cpus] + cmd
    f = open(log, "w")
    return subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env)


def submit_cmd(pages: str, out: str, n_exec: int, exec_cores: int,
               exec_mem: str, pyzip: str,
               extra_job_args: list[str] | None = None) -> list[str]:
    total_cores = n_exec * exec_cores
    return [
        spark_bin("spark-submit"),
        "--master", f"spark://{HOST}:{MASTER_PORT}",
        "--py-files", pyzip,
        "--conf", f"spark.executor.cores={exec_cores}",
        "--conf", f"spark.executor.memory={exec_mem}",
        "--conf", f"spark.cores.max={total_cores}",
        # block until every requested executor registers, so the timed
        # region runs at the advertised cluster size from the first task
        "--conf", "spark.scheduler.minRegisteredResourcesRatio=1.0",
        "--conf", "spark.scheduler.maxRegisteredResourcesWaitingTime=120s",
        "--conf", "spark.driver.memory=8g",
        "--conf", f"spark.pyspark.python={sys.executable}",
        "--conf", "spark.ui.enabled=false",
        os.path.join(REPO, "scripts", "run_extract.py"),
        "--pages", pages, "--out", out, "--warmup",
        "--buckets", "256", "--cores", str(total_cores),
        "--salt-partitions", str(max(total_cores, 8)),
        *(extra_job_args or []),
    ]


def submit_env(tmp: str) -> dict:
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env.setdefault("SPARK_LOCAL_DIRS", os.path.join(tmp, "spark-local"))
    return env


def _read_stat() -> tuple[int, int, int]:
    """(busy, idle, steal) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]   # user+nice+sys+irq+softirq
    idle = v[3] + v[4]                        # idle+iowait
    steal = v[7] if len(v) > 7 else 0
    return busy, idle, steal


def submit_job(pages: str, out: str, n_exec: int, exec_cores: int,
               exec_mem: str, pyzip: str, tmp: str,
               driver_cpus: str | None = None) -> dict:
    cmd = submit_cmd(pages, out, n_exec, exec_cores, exec_mem, pyzip)
    if driver_cpus:
        # the driver gets the SAME fixed core budget in both lanes, so
        # driver-side serial work cancels out of the ratio
        cmd = ["taskset", "-c", driver_cpus] + cmd
    env = submit_env(tmp)
    # DURING-lane contention telemetry: a CPU probe run BEFORE a trial
    # cannot see a co-tenant burst that lands mid-trial (measured: probe
    # 1.07 followed by a 0.54-efficiency trial and vice versa). Co-tenants
    # are sibling VMs, so they appear here only as hypervisor STEAL time;
    # sampling /proc/stat across the lane attributes exactly the stolen
    # cycles to the window that actually ran contended.
    b0, i0, s0 = _read_stat()
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env)
    wall = max(time.time() - t0, 1e-6)
    b1, i1, s1 = _read_stat()
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + "\n" + proc.stderr[-8000:])
        raise RuntimeError(f"spark-submit rc={proc.returncode}")
    line = [ln for ln in proc.stdout.strip().splitlines()
            if ln.startswith("{")][-1]
    r = json.loads(line)
    # Jiffy rate from the kernel, not a literal 100 — wrong USER_HZ would
    # silently scale lane_busy/steal (and the steal-clean gate). Note the
    # steal sample is box-aggregate over the lane's wall window, not
    # lane-scoped: it can over-flag trials as dirty, never under-flag.
    hz = float(os.sysconf("SC_CLK_TCK"))
    r["lane_busy_cpus"] = round((b1 - b0) / hz / wall, 2)
    r["lane_steal_cpus"] = round((s1 - s0) / hz / wall, 2)
    return r


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100000)
    ap.add_argument("--heaviness", type=int, default=4)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--min-clean", type=int, default=0,
                    help="keep adding trials (up to --max-trials) until "
                         "this many ran on a probe-clean box (ratio>=0.95)")
    ap.add_argument("--max-trials", type=int, default=12)
    ap.add_argument("--wait-clean-secs", type=float, default=60.0,
                    help="when the pre-trial probe is dirty, sleep this "
                         "long and re-probe (up to 5x) before burning a "
                         "trial on a box that cannot scale")
    ap.add_argument("--steal-clean-cpus", type=float, default=0.3,
                    help="a trial counts as clean when neither lane lost "
                         "more than this many CPUs to hypervisor steal")
    ap.add_argument("--executors", type=int, nargs=2, default=[1, 4],
                    metavar=("N", "4N"))
    ap.add_argument("--executor-cores", type=int, default=2)
    ap.add_argument("--executor-mem", default="4g")
    ap.add_argument("--pin", action="store_true",
                    help="taskset each worker JVM (and so its executor + "
                         "python UDF children) to a disjoint "
                         "executor-cores-sized CPU set, and the driver to "
                         "a fixed 4-CPU set shared by both lanes — the "
                         "sandbox analog of per-node cgroup limits on a "
                         "real cluster")
    args = ap.parse_args()

    lo, hi = sorted(args.executors)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="bench_cluster_", dir=base)
    procs: list[subprocess.Popen] = []
    try:
        pages = os.path.join(tmp, "pages.parquet")
        from docling_rag_spark.sources.pages import write_pages_parquet
        n = write_pages_parquet(pages, args.docs, heaviness=args.heaviness)

        pyzip = os.path.join(tmp, "docling_rag_spark.zip")
        subprocess.run([sys.executable,
                        os.path.join(REPO, "scripts", "package_pyfiles.py"),
                        pyzip], check=True, capture_output=True)

        env = dict(os.environ)
        env.setdefault("SPARK_NO_DAEMONIZE", "1")
        procs.append(launch(
            "org.apache.spark.deploy.master.Master",
            ["--host", HOST, "--port", str(MASTER_PORT),
             "--webui-port", str(MASTER_UI_PORT)],
            os.path.join(tmp, "master.log"), env))
        wait_port(MASTER_PORT)
        # pinned layout: workers on CPUs [4, 4+hi*cores), driver on 0-3
        driver_cpus = "0-3" if args.pin else None
        for i in range(hi):
            wlo = 4 + i * args.executor_cores
            wcpus = (f"{wlo}-{wlo + args.executor_cores - 1}"
                     if args.pin else None)
            procs.append(launch(
                "org.apache.spark.deploy.worker.Worker",
                ["--cores", str(args.executor_cores),
                 "--memory", args.executor_mem,
                 "--port", "0", "--webui-port", "0",
                 "--work-dir", os.path.join(tmp, f"worker{i}"),
                 f"spark://{HOST}:{MASTER_PORT}"],
                os.path.join(tmp, f"worker{i}.log"), env, cpus=wcpus))
        wait_workers(hi)

        core_levels = [lo * args.executor_cores, hi * args.executor_cores]
        trials: dict[int, list[float]] = {lo: [], hi: []}
        effs: list[float] = []
        probes: list[dict[int, float]] = []
        probe_ratios: list[float] = []
        lane_stats: list[dict] = []
        steal_max: list[float] = []
        t = 0
        while True:
            n_clean_so_far = sum(
                1 for s in steal_max if s <= args.steal_clean_cpus)
            if t >= args.trials and (args.min_clean == 0
                                     or n_clean_so_far >= args.min_clean):
                break
            if t >= args.max_trials:
                break
            t += 1
            # PER-TRIAL CPU probe (bench_scaling.py protocol): the sandbox
            # shares ~16 real cores with co-tenants whose load swings on a
            # minutes scale — a single before/after probe pair cannot tell
            # WHICH trials ran contended. The probe measures the box's own
            # hi-vs-lo-core scaling immediately before each trial; a trial
            # whose probe ratio is itself depressed ran on a box that
            # cannot express 4x parallelism no matter what the job does.
            probe = cpu_ceiling(core_levels)
            if args.min_clean:
                # dirty box: wait for a quiet window instead of burning a
                # ~2.5 min trial that the probe already condemns
                for _ in range(5):
                    ratio = (probe[core_levels[1]] / probe[core_levels[0]]
                             ) / (core_levels[1] / core_levels[0])
                    if ratio >= 0.95:
                        break
                    time.sleep(args.wait_clean_secs)
                    probe = cpu_ceiling(core_levels)
            probes.append(probe)
            probe_ratios.append(round(
                (probe[core_levels[1]] / probe[core_levels[0]])
                / (core_levels[1] / core_levels[0]), 3))
            per = {}
            # alternate lane order per trial: a monotonic box-speed drift
            # then biases half the ratios up and half down instead of all
            # one way (lo always first would understate efficiency on a
            # box that slows over the session, overstate on one speeding up)
            order = (lo, hi) if t % 2 == 0 else (hi, lo)
            steal = {}
            for n_exec in order:
                out = os.path.join(tmp, f"wh_e{n_exec}_t{t}")
                r = submit_job(pages, out, n_exec, args.executor_cores,
                               args.executor_mem, pyzip, tmp,
                               driver_cpus=driver_cpus)
                per[n_exec] = r["docs_per_sec"]
                steal[n_exec] = r["lane_steal_cpus"]
                trials[n_exec].append(r["docs_per_sec"])
                stat = {"trial": t, "executors": n_exec,
                        "docs_per_sec": r["docs_per_sec"],
                        "busy_cpus": r["lane_busy_cpus"],
                        "steal_cpus": r["lane_steal_cpus"],
                        # run_extract's udf_stage / commit walls
                        "phase_sec": r["phase_sec"],
                        "elapsed_sec": r["elapsed_sec"]}
                lane_stats.append(stat)
                shutil.rmtree(out, ignore_errors=True)
            effs.append(round((per[hi] / per[lo]) / (hi / lo), 3))
            steal_max.append(round(max(steal.values()), 2))
        probe_after = cpu_ceiling(core_levels)

        import statistics
        med = round(statistics.median(effs), 3)
        # steal-clean median: trials where neither lane lost more than
        # --steal-clean-cpus to the hypervisor (sibling-VM co-tenants are
        # visible ONLY as steal — a pre-trial probe cannot see a burst
        # landing mid-trial). Both medians are reported; the clean one is
        # the job's efficiency, the raw one folds in co-tenant load the
        # job cannot control.
        clean = [e for e, s in zip(effs, steal_max)
                 if s <= args.steal_clean_cpus]
        med_clean = round(statistics.median(clean), 3) if clean else None
        print(json.dumps({
            "metric": "extraction scaling efficiency (standalone cluster)",
            "mode": "spark-standalone: 1 master + "
                    f"{hi} worker JVMs, spark-submit --py-files"
                    + (", CPU-pinned nodes" if args.pin else ""),
            "pinned": bool(args.pin),
            "n_docs": n,
            "executor_cores": args.executor_cores,
            "executor_mem": args.executor_mem,
            "executors_levels": [lo, hi],
            "trials_docs_per_sec": {str(k): v for k, v in trials.items()},
            "efficiencies": effs,
            "per_trial_probe_ratio": probe_ratios,
            "per_trial_steal_cpus": steal_max,
            "lane_stats": lane_stats,
            "efficiency": med,
            "efficiency_steal_clean": med_clean,
            "n_clean_trials": len(clean),
            "executor_ratio": hi / lo,
            "target": 0.8,
            "pass": (med_clean if med_clean is not None else med) >= 0.8,
            "hw_probe_Mmd5_per_trial": [
                {str(c): p[c] for c in core_levels} for p in probes],
            "hw_probe_Mmd5_after": {str(c): probe_after[c]
                                    for c in core_levels},
        }))
        return 0
    finally:
        for p in procs[::-1]:
            p.terminate()
        for p in procs[::-1]:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
