#!/usr/bin/env python3
"""graft benchmark: one command that builds the runner, runs a workload and
checks its outputs.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run it from the root of a graft checkout. `--trace 0` prints every
end-to-end metric; `--trace 1` runs the same workload traced and prints the
per-layer metrics (spans go to .bench_build/traces/). `--workload all` runs
every workload untraced and traced and reports the tracing overhead. The
last stdout line is the JSON result: correct, attempted, failed, metrics.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

WORKLOADS = ["fdsn_serve", "ingest_mixed", "curate_batch"]
HEAP = "3g"
BUILD_TIMEOUT_S = 700  # the first run builds, and must end within 900 s
RUN_TIMEOUT_S = 170
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, as paths relative to the checkout."""
    files = ["build.sbt", "perfbench/build.sbt"]
    for top in ["src/main", "project", "perfbench/src", "perfbench/project"]:
        for d, subdirs, names in os.walk(os.path.join(ROOT, top)):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in sorted(names)]
    return [f for f in files if os.path.isfile(os.path.join(ROOT, f))]


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + source_stamp()


def build():
    """Compiles graft and the runner once per source state; returns the
    launcher (classpath line, then JVM options)."""
    launcher = os.path.join(BENCH, "target", "launcher.txt")
    stamp_file = os.path.join(BENCH, "target", "source-stamp")
    stamp = source_stamp()
    if os.path.exists(launcher) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(launcher) as lf:
                    return lf.read().splitlines()
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmpdir())
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Xmx2g -Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    # keep sbt's per-user state and scratch inside the checkout; the
    # toolchain's caches are only read
    env["SBT_OPTS"] += (f" -Djava.io.tmpdir={tmpdir()} -Djna.tmpdir={tmpdir()}"
                        f" -Dsbt.global.base={os.path.join(OUT, 'sbt-global')}"
                        f" -Dsbt.ivy.home={os.path.join(OUT, 'ivy2')}")
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log("building graft and the benchmark runner")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                          cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(launcher):
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    with open(launcher) as lf:
        return lf.read().splitlines()


def tmpdir():
    path = os.path.join(OUT, "tmp")
    os.makedirs(path, exist_ok=True)
    return path


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def class_sharing():
    """JVM options for class-data sharing, and the archive to publish once
    the JVM has exited cleanly. The first run of a build records the
    classes it loads; later runs map that archive and start a few seconds
    faster. Class loading is all it changes."""
    with open(os.path.join(BENCH, "target", "source-stamp")) as fh:
        archive = os.path.join(OUT, "cds", fh.read().strip() + ".jsa")
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"], None
    shutil.rmtree(os.path.dirname(archive), ignore_errors=True)
    os.makedirs(os.path.dirname(archive))
    return [f"-XX:ArchiveClassesAtExit={archive}.tmp"], archive


def run_jvm(launcher, workload, seed, seconds, trace):
    work = os.path.join(OUT, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(OUT, "traces", f"{workload}-seed{seed}.spans.jsonl")
    result = os.path.join(work, "result.json")
    cp, opts = launcher[0], launcher[1:]
    sharing, archive = class_sharing()
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + sharing + opts +
           [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
           "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--cpus", str(cpus()), "--work", work, "--out", result, "--spans", spans])
    oracle = Oracle(work)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, env=dict(os.environ, TMPDIR=f"{work}/tmp"))
    oracle.start(proc)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{workload}: runner exceeded {RUN_TIMEOUT_S} s")
    finally:
        oracle.join()
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"{workload}: runner failed (exit {code})")
    if archive and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    with open(result) as fh:
        res = json.load(fh)
    return res, work, oracle


# ---- curate_batch output checks against the registry's DuckDB oracle SQL --

def components(pairs):
    """Connected components of LSH pairs as (rep_id, cluster_size, max_id):
    the d11_dedup_clusters result, by union-find instead of the registry
    oracle's recursive CTE (quadratic in cluster size)."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for x in list(parent):
        groups.setdefault(find(x), []).append(x)
    return [(min(g), len(g), max(g)) for g in groups.values()]


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        return tuple(norm(x) for x in v) if isinstance(v, list) else v
    return ([cols[i] for i in order],
            sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr))


class Oracle:
    """Evaluates the oracle SQL the runner publishes (oracle-inputs.json)
    on a thread while the runner warms up. The runner does not start
    measuring until the `oracle.pending` file is gone. The
    d11_dedup_clusters oracle's recursive CTE takes about a minute here, so
    its result is computed from the d03_minhash_lsh oracle's pairs."""

    def __init__(self, work):
        self.work, self.want, self.error = work, {}, None
        self.pending = os.path.join(work, "oracle.pending")
        open(self.pending, "w").close()
        self.thread = None

    def start(self, proc):
        self.thread = threading.Thread(target=self._run, args=(proc,), daemon=True)
        self.thread.start()

    def join(self):
        self.thread.join(timeout=RUN_TIMEOUT_S)

    def _run(self, proc):
        inputs = os.path.join(self.work, "oracle-inputs.json")
        try:
            while not os.path.exists(inputs):
                if proc.poll() is not None:
                    return
                time.sleep(0.05)
            import duckdb
            with open(inputs) as fh:
                spec = json.load(fh)
            con = duckdb.connect()
            con.execute(f"SET threads TO {cpus()}")
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{spec['tables']}/{t}.parquet/*.parquet')")
            for st in spec["stages"]:
                t0 = time.time()
                if st["key"] == "d11_dedup_clusters":
                    self.want[st["key"]] = (["rep_id", "cluster_size", "max_id"],
                                            components(self.want["d03_minhash_lsh"][1]))
                else:
                    q = con.execute(st["sql"])
                    self.want[st["key"]] = ([d[0] for d in q.description], q.fetchall())
                log(f"oracle {st['key']}: {len(self.want[st['key']][1])} rows "
                    f"in {time.time() - t0:.1f} s")
        except Exception as e:  # reported as a failed check, never a crash
            self.error = f"oracle evaluation failed: {e}"
        finally:
            if os.path.exists(self.pending):
                os.remove(self.pending)

    def mismatches(self, outputs):
        """Messages for every stage output that differs from the oracle."""
        if self.error:
            return [self.error]
        import duckdb
        con = duckdb.connect()
        bad = []
        for e in outputs:
            got = con.execute(f"SELECT * FROM read_parquet('{e['output']}/*.parquet')")
            got_cols, got_rows = [d[0] for d in got.description], got.fetchall()
            if e["key"] not in self.want:
                bad.append(f"{e['key']}: no oracle result")
            elif canon(got_cols, got_rows) != canon(*self.want[e["key"]]):
                bad.append(f"{e['key']}: {len(got_rows)} rows differ from the oracle's "
                           f"{len(self.want[e['key']][1])}")
        return bad


# ---- reporting -------------------------------------------------------------

def fmt(v):
    return "n/a" if v is None else f"{v:.4g}"


def run_one(launcher, workload, seed, seconds, trace, who):
    t0 = time.time()
    res, work, oracle = run_jvm(launcher, workload, seed, seconds, trace)
    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if res["oracle"]:
        bad = oracle.mismatches(res["oracle"])
        failures += bad
        if bad:
            failed = attempted
    shutil.rmtree(work, ignore_errors=True)
    info = dict(workload=workload, trace=int(trace), seed=seed, cpus=cpus(), commit=who,
                **res["info"])
    print(json.dumps(info))
    for f in failures:
        print(f"FAILED {workload}: {f}")
    metrics = res["metrics"]
    body = " ".join(f"{k}={fmt(v['value'])}{v['unit'] if v['unit'] in ('s', 'ms') else ''}"
                    for k, v in metrics.items() if not trace or v["value"])
    n = sum(res["info"]["samples"].values())
    extra = "" if trace else (f" p90_ms={fmt(res['info']['p90_ms'])}ms"
                              f" peak_rss_mb={fmt(res['info']['peak_rss_mb'])}")
    print(f"summary {workload} trace={int(trace)} seed={seed} cpus={cpus()} commit={who} "
          f"warmup={res['info']['warmup_ops']}ops/{res['info']['warmup_s']:.1f}s samples={n} "
          f"error_rate={failed}/{attempted} wall={time.time() - t0:.0f}s: {body}{extra}"[:1900])
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(BENCH, "build.sbt"))):
        log("run this from the root of a graft checkout (no graft sources here)")
        return 2
    launcher = build()
    who = commit()
    if a.workload != "all":
        print(json.dumps(run_one(launcher, a.workload, a.seed, a.seconds, a.trace, who)))
        return 0
    results, overhead = {}, []
    for w in WORKLOADS:
        plain = run_one(launcher, w, a.seed, a.seconds, False, who)
        traced = run_one(launcher, w, a.seed, a.seconds, True, who)
        results[w] = plain
        base, op = plain["metrics"]["p50_ms"]["value"], traced["metrics"]["trace.op_ms"]["value"]
        overhead.append(f"{w}={100.0 * (op / base - 1):+.1f}%")
        results[w + ".traced"] = traced
    print("tracing overhead (traced median op wall vs untraced p50_ms): " + " ".join(overhead))
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() if "." not in w
                    for k, v in r["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
