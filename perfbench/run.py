#!/usr/bin/env python3
"""End-to-end benchmark of the CDC->Postgres load and the query surface.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (perfbench/config.json holds their sizes and query lists):
  etl    a generated CDC corpus loaded into an empty Postgres database,
         then a schedule of small batches landing on top of it
  query  a pass over q*, sql*, d*, g* and sk* queries at sf0.1

The run builds the engine and harness from source (perfbench/build.py),
starts a throwaway PostgreSQL 15 cluster for the etl workload, runs the
harness JVM (perfbench/scala), checks every output outside the timed
region, and prints one JSON result line last on stdout. With --trace 1
the result carries the per-layer metrics and the full span tree is
written to .bench_build/traces/. Every file the run creates lives under
.bench_build/ in the checkout; the run directory and the database are
removed on exit, also after a failure.
"""
import argparse
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import checks  # noqa: E402
import layers  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "run")
TRACES = os.path.join(BUILD, "traces")
JVM_TIMEOUT_S = 120
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tail(xs, pct):
    """Linear-interpolated percentile `pct` of xs."""
    if len(xs) == 1:
        return xs[0]
    qs = statistics.quantiles(xs, n=100, method="inclusive")
    return qs[pct - 1]


# ---------------------------------------------------------------- postgres

class Postgres:
    """A throwaway PG15 cluster under the run directory: SCRAM auth, TCP
    on a free localhost port, the settings of config.json "postgres".
    Server processes run as the `postgres` user when we are root, keeping
    DAC override so the cluster may live under a root-only path."""

    PASSWORD = "perfbench-pw"

    def __init__(self, base, settings):
        self.base = base
        self.data = os.path.join(base, "data")
        self.settings = settings
        self.port = None
        self.running = False

    def _as_pg(self, cmd):
        if os.geteuid() != 0:
            return cmd
        return ["setpriv", "--reuid=postgres", "--regid=postgres", "--init-groups",
                "--inh-caps=+dac_override", "--ambient-caps=+dac_override"] + cmd

    def _run(self, cmd):
        r = subprocess.run(self._as_pg(cmd), stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=60)
        if r.returncode != 0:
            raise BenchError(f"{os.path.basename(cmd[0])} failed: {r.stdout[-2000:]}")

    @staticmethod
    def binary(name):
        path = shutil.which(name)
        if not path:
            raise BenchError(f"missing PostgreSQL binary on the PATH: {name}")
        return path

    def start(self):
        os.makedirs(self.base)
        pw = os.path.join(self.base, "pw")
        with open(pw, "w") as f:
            f.write(self.PASSWORD + "\n")
        if os.geteuid() == 0:
            shutil.chown(self.base, "postgres", "postgres")
            shutil.chown(pw, "postgres", "postgres")
        self._run([self.binary("initdb"), "-D", self.data, "-U", "postgres",
                   "-A", "scram-sha-256", f"--pwfile={pw}", "--no-sync"])
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            self.port = s.getsockname()[1]
        opts = [f"-p {self.port}", "-c listen_addresses=127.0.0.1",
                f"-c unix_socket_directories={self.data}"]
        opts += [f"-c {k}={v}" for k, v in self.settings.items()]
        self.running = True
        self._run([self.binary("pg_ctl"), "-D", self.data, "-w", "-t", "60",
                   "-o", " ".join(opts), "-l", os.path.join(self.base, "server.log"),
                   "start"])

    def stop(self):
        if self.running:
            try:
                self._run([self.binary("pg_ctl"), "-D", self.data, "-w",
                           "-m", "immediate", "stop"])
            except Exception as e:  # stop the postmaster directly, then clean up
                log(f"pg_ctl stop: {e}")
                try:
                    with open(os.path.join(self.data, "postmaster.pid")) as f:
                        os.kill(int(f.readline()), signal.SIGQUIT)
                except (OSError, ValueError):
                    pass
            self.running = False
        shutil.rmtree(self.base, ignore_errors=True)

    def psql_env(self):
        return dict(os.environ, PGPASSWORD=self.PASSWORD, PGHOST="127.0.0.1",
                    PGPORT=str(self.port), PGUSER="postgres", PGDATABASE="postgres")


# ---------------------------------------------------------------- run

def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def jvm_command(classes, cfg, extra):
    cp = classes + os.pathsep + build.classpath()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
            [f"-Xms{cfg['jvm_heap']}", f"-Xmx{cfg['jvm_heap']}", f"-Djava.io.tmpdir={tmp}",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             f"-Dderby.system.home={tmp}", "-cp", cp, "perfbench.Main"] + extra)


def spark_conf(cfg, cores):
    """Write the session settings of config.json for the harness."""
    path = os.path.join(WORK, "spark.conf")
    conf = dict(cfg["spark"], **{"spark.sql.shuffle.partitions": str(cores)})
    with open(path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in conf.items())
    return path


def run_jvm(cmd):
    """Run the harness JVM; its log goes to the run directory."""
    logf = os.path.join(WORK, "jvm.log")
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=WORK)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(logf, errors="replace") as f:
            what = f"exited {rc}" if rc is not None else f"stopped after {JVM_TIMEOUT_S} s"
            raise BenchError(f"harness JVM {what}:\n" + f.read()[-3000:])


def main():
    a = parse_args()
    cfg = json.load(open(os.path.join(HERE, "config.json")))
    if a.workload not in cfg["workloads"]:
        raise BenchError(f"unknown workload {a.workload!r}; "
                         f"known: {', '.join(cfg['workloads'])}")
    w = cfg["workloads"][a.workload]
    is_etl = a.workload == "etl"
    sf_dir = os.path.join(ROOT, cfg["sf_dir"])
    if not is_etl:
        for t in cfg["sf_tables"]:
            if not os.path.isfile(os.path.join(sf_dir, t + ".parquet")):
                raise BenchError(f"missing input table: {os.path.join(sf_dir, t + '.parquet')}")
    classes = build.build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    cores = max(1, min(cfg["max_cores"], os.cpu_count() or 1))
    setup = {}
    pg = None
    try:
        extra = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", WORK, "--out", os.path.join(WORK, "result.json"),
                 "--cores", str(cores), "--spark-conf", spark_conf(cfg, cores)]
        if is_etl:
            pg = Postgres(os.path.join(WORK, "pg"), cfg["postgres"])
            t0 = time.time()
            pg.start()
            setup["pg_start_s"] = time.time() - t0
            extra += ["--pg-port", str(pg.port), "--pg-password", pg.PASSWORD]
        else:
            extra += ["--sf", sf_dir]
        for k, v in w.items():
            if not k.startswith("_"):
                extra += [f"--{k.replace('_', '-')}",
                          ",".join(v) if isinstance(v, list) else str(v)]
        launched = time.time()
        run_jvm(jvm_command(classes, cfg, extra))
        res = json.load(open(os.path.join(WORK, "result.json")))
        # the raw harness record of the latest run, kept for inspection
        shutil.copy(os.path.join(WORK, "result.json"), os.path.join(BUILD, "last_result.json"))
        if "error" in res:
            raise BenchError("harness failed: " + res["error"])
        setup["session_start_s"] = res["session_ready_ms"] / 1000.0 - launched
        setup.update(res["setup"])
        if is_etl:
            outcome = checks.check_etl(res, WORK, pg)
        else:
            outcome = checks.check_queries(res, WORK, sf_dir, cfg, BUILD)
    finally:
        if pg:
            pg.stop()
    attempted, failed = outcome["attempted"], outcome["failed"]
    log("set-up " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items()) +
        f"; measured {res['measure_s']:.1f} s in passes of " +
        " ".join(f"{p['wall_s']:.2f}" for p in res["passes"]))
    if is_etl:
        log("warm-up passes " + " ".join(f"{t:.2f}" for t in res["warmup_walls"]) +
            "; measured loads " + " ".join(f"{p['load_s']:.2f}" for p in res["passes"]))
    for msg in outcome["messages"]:
        log(msg)
    if not is_etl:
        for i, p in enumerate(res["passes"]):
            log(f"pass {i} order: {' '.join(p['order'])}")
    if a.trace:
        metrics, artifact = layers.per_layer(res, cores)
        artifact.update(workload=a.workload, seed=a.seed, setup=setup, checks=outcome)
        os.makedirs(TRACES, exist_ok=True)
        path = os.path.join(TRACES, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump(artifact, f)
        log(f"trace written to {os.path.relpath(path, ROOT)}")
        if not artifact["consistent"]:
            failed += 1
            log(f"the real layers' self-times cover {artifact['consistency']:.3f} of the traced passes' wall time (gate: within 10%)")
    else:
        metrics = end_to_end(a.workload, res, setup, outcome)
    shutil.rmtree(WORK, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def end_to_end(workload, res, setup, outcome):
    passes = res["passes"]
    walls = [p["wall_s"] for p in passes]
    if workload == "etl":
        # ops are batch latencies; throughput is every row a pass commits
        # (bulk load and batches) over the pass's wall time
        ops = [t for p in passes for t in p["batch_s"]]
        rows = statistics.median([(sum(p["load_rows"]) + sum(map(sum, p["batch_rows"])))
                                  / p["wall_s"] for p in passes])
    else:
        per_query = {}
        for p in passes:
            for q in p["queries"]:
                per_query.setdefault(q["name"], []).append(q["build_s"] + q["exec_s"])
        ops = [statistics.median(v) for v in per_query.values()]
        rows = outcome["result_rows"] / statistics.median(walls)

    def m(v, unit):
        return {"value": v, "unit": unit}
    return {
        "setup_s": m(sum(setup.values()), "s"),
        "pass_s": m(statistics.median(walls), "s"),
        "op_p50_s": m(statistics.median(ops), "s"),
        "op_p75_s": m(tail(sorted(ops), 75), "s"),
        "rows_per_s": m(rows, "rows/s"),
        "peak_rss_mb": m(res["peak_rss_mb"], "MB"),
    }


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    try:
        code = main()
    except (BenchError, build.BuildError, checks.CheckError) as e:
        log(str(e))
        code = 2
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(code)
