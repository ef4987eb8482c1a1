#!/usr/bin/env python3
"""End-to-end benchmark of graft.Pipeline.run and graft.CurationPipeline.run.

    python3 perfbench/run.py --workload <etl_full|etl_incremental|curation|all>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per source state),
generates the seed-free base tables with graft.ScaleGen in a child JVM
(once per source state), then starts one JVM that derives this seed's
inputs, warms up, and times calls for `--seconds`. Every timed call's
outputs are checked here. The last stdout line is the JSON result; the
lines before it print every metric with its unit. See README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import benchlib

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("etl_full", "etl_incremental", "curation")
# ScaleGen multiple of the sf0.1 shape: ~160k lineitem rows, 25k events,
# 1,250 documents. A Pipeline.run call at this size costs ~13 s on 4 cores,
# nearly all of it per-query fixed cost, so more rows would only make the
# runs longer; a 5,000-document corpus made curation runs ~70 s, more than
# the run budget (see README.md) allows.
SCALEGEN_MULT = "0.25"
HEAP = "-Xmx3g"
# Base table → sort key; the first column is the key the seed hashes, so
# whole orders are kept or dropped and transfer legs stay paired.
KEYS = {"lineitem": ("l_orderkey", "l_linenumber"), "events": ("event_id",),
        "documents": ("doc_id",)}
# Input derivations per run: the median time counts toward set-up, and
# all of them must produce the same bytes.
DERIVATIONS = 3
# Share of the ledger that is new at the incremental checkpoint.
NEW_SHARE = 0.034
LIMIT_S = 170.0
BUILD_LIMIT_S = 880.0
_child = None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _kill_child(*_):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(3)


def run_child(cmd, log, cwd, env, deadline):
    """Run one child process group to completion or kill it at the
    deadline; returns its exit code."""
    global _child
    with open(log, "a") as fh:
        _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh,
                                  stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  start_new_session=True)
        try:
            return _child.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
            return -9
        finally:
            _child = None


def source_stamp(roots, extra=""):
    """Digest of the build files and sources under each of `roots`."""
    h = hashlib.sha256(extra.encode())
    paths = []
    for r in roots:
        paths += [r / "build.sbt"] + sorted((r / "project").glob("*.sbt")) \
            + sorted((r / "project").glob("*.properties")) \
            + sorted(p for p in (r / "src").rglob("*")
                     if p.is_file() and "test" not in p.relative_to(r).parts)
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def nproc():
    return str(len(os.sched_getaffinity(0)))


def child_env(tmp):
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env["SPARK_GRAFT_CPUS"] = nproc()
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build(stamp, deadline):
    """Compile engine + harness with sbt unless this source state was
    built already; returns (classpath, jvm options)."""
    launch = HERE / "target" / "launch.txt"
    stamp_file = WORK / "build.stamp"
    if not (launch.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        log = WORK / "build.log"
        log.write_text("")
        env = child_env(WORK / "tmp")
        env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        rc = run_child(["sbt", "--batch", "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={WORK / 'tmp'}", "launchFile"],
                       log, HERE, env, deadline)
        if rc != 0 or not launch.exists():
            fail(f"build failed (rc={rc}); see {log}")
        stamp_file.write_text(stamp)
    cp, opts = None, []
    for line in launch.read_text().splitlines():
        if line.startswith("cp="):
            cp = line[3:]
        elif line.startswith("opt=") and not line.startswith("opt=-Xmx"):
            opts.append(line[4:])
    return cp, opts


def java_cmd(cp, opts, tmp):
    home = os.environ.get("JAVA_HOME")
    java = str(Path(home) / "bin" / "java") if home else "java"
    return [java, *opts, HEAP, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp]


def base_tables(stamp, jvm, tmp, deadline):
    """Seed-free base tables from graft.ScaleGen, generated in a child JVM
    (its main stops its own session) once per source state."""
    base = WORK / "base" / stamp[:16]
    done = base / "scalegen.json"
    if done.exists():
        return base, dict(json.loads(done.read_text()), cached=True)
    shutil.rmtree(WORK / "base", ignore_errors=True)
    base.mkdir(parents=True)
    t0 = time.monotonic()
    rc = run_child(jvm + ["graft.ScaleGen", str(base), SCALEGEN_MULT,
                          "lineitem,events,documents", "fixed", "curation"],
                   WORK / "scalegen.log", tmp, child_env(tmp), deadline)
    if rc != 0:
        fail(f"ScaleGen failed (rc={rc}); see {WORK / 'scalegen.log'}")
    info = {"scalegen_s": time.monotonic() - t0, "mult": SCALEGEN_MULT}
    done.write_text(json.dumps(info))
    return base, dict(info, cached=False)


def _write(tab, path):
    import pyarrow.parquet as pq
    path.mkdir(parents=True)
    # the base tables come from Spark, which writes INT96 timestamps
    pq.write_table(tab, path / "part-00000.parquet",
                   use_deprecated_int96_timestamps=True)


def derive(base, dest, seed, tables):
    """This seed's input tables under `dest` (each one key-sorted file;
    ETL inputs also get `<dest>_prior`, the ledger up to the checkpoint).
    Returns (rows per table, checkpoint)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows, cut = {}, ""
    prior = Path(f"{dest}_prior")
    for t in tables:
        tab = pq.read_table(base / f"{t}.parquet")
        keep = benchlib.keep_mask(tab.column(KEYS[t][0]).to_numpy(), seed)
        tab = tab.filter(pa.array(keep)).sort_by(
            [(k, "ascending") for k in KEYS[t]])
        _write(tab, dest / f"{t}.parquet")
        rows[t] = tab.num_rows
        if t == "lineitem":
            _write(tab, prior / "lineitem.parquet")
        elif t == "events":
            ts = tab.column("ts").to_numpy()
            cut = benchlib.checkpoint(ts, seed, NEW_SHARE)
            old = ts <= np.datetime64(cut.replace(" ", "T"))
            _write(tab.filter(pa.array(old)), prior / "events.parquet")
    return rows, cut


def digest(dirs):
    h = hashlib.sha256()
    for d in dirs:
        for p in sorted(Path(d).rglob("part-*.parquet")):
            h.update(str(p.relative_to(d)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def cpu_jiffies():
    """(busy, steal) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as fh:
        parts = [int(x) for x in fh.readline().split()[1:]]
    busy = sum(parts) - parts[3] - parts[4]
    return busy, parts[7] if len(parts) > 7 else 0


# ---------------------------------------------------------------- checks

def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(a, b):
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    return bool(((a.values == b.values) | (a.isna().values & b.isna().values))
                .all())


class Checker:
    """Output checks of one run's calls. ETL calls: every report equals
    its registry oracle evaluated by DuckDB on the same inputs, compared on
    the oracle's columns, and the summary row names the load type.
    Curation calls: manifest and shard doc_id set equal the warm-up's."""

    def __init__(self, rec):
        self.rec = rec
        self.kind_ok = {"full": {"full"},
                        "incremental": {"full", "incremental_delta"}}
        if rec["workload"].startswith("etl"):
            import duckdb
            con = duckdb.connect()
            for t in ("lineitem", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{rec['input_dir']}/{t}.parquet/*.parquet')")
            self.oracle = {name: _norm(con.execute(sql).df())
                           for name, sql in rec["oracles"].items()}
            con.close()
        else:
            self.ref = self._curation(rec["warmup"])

    def _curation(self, call):
        import pandas as pd
        out = call["out"]
        manifest = pd.read_parquet(f"{out}/manifest").to_dict("records")
        ids = sorted(pd.read_parquet(f"{out}/shards",
                                     columns=["doc_id"])["doc_id"].tolist())
        return manifest, ids

    def problems(self, call):
        """Why a call's outputs are wrong; empty when they are right."""
        if call["error"] is not None:
            return [f"threw: {call['error']}"]
        try:
            if self.rec["workload"].startswith("etl"):
                return self._etl(call)
            manifest, ids = self._curation(call)
            bad = []
            if (manifest, ids) != self.ref:
                bad.append("manifest or shard doc_ids differ from warm-up")
            if manifest[0]["n_sampled"] != len(ids):
                bad.append("manifest n_sampled != shard rows")
            if manifest[0]["n_corpus"] != self.rec["input_rows"]["documents"]:
                bad.append("manifest n_corpus != input documents")
            return bad
        except Exception as e:  # noqa: BLE001 — any read failure is a fail
            return [f"check raised {e!r}"]

    def _etl(self, call):
        import pandas as pd
        out, bad = call["out"], []
        for name, want in self.oracle.items():
            got = pd.read_parquet(f"{out}/{name}")
            missing = set(want.columns) - set(got.columns)
            if missing:
                bad.append(f"{name}: missing columns {sorted(missing)}")
            elif not _same(_norm(got[list(want.columns)]), want):
                bad.append(f"{name}: differs from oracle")
        kinds = set(pd.read_parquet(f"{out}/analytics_daily_summary")
                    ["load_type"])
        if kinds != self.kind_ok[call["kind"]]:
            bad.append(f"summary load_type {sorted(kinds)}")
        return bad


# ---------------------------------------------------------------- one run

def run_workload(workload, seed, seconds, trace):
    start = time.monotonic()
    WORK.mkdir(exist_ok=True)
    lock = open(WORK / "lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    stamp = source_stamp([ROOT, HERE])
    built = (WORK / "build.stamp").exists() and \
        (WORK / "build.stamp").read_text() == stamp
    deadline = start + (LIMIT_S if built else BUILD_LIMIT_S)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    cp, opts = build(stamp, deadline)
    jvm = java_cmd(cp, opts, tmp)
    base, gen = base_tables(source_stamp([ROOT], SCALEGEN_MULT), jvm, tmp,
                            deadline)

    run_dir = WORK / "runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    tables = ("lineitem", "events") if workload.startswith("etl") \
        else ("documents",)
    derived = []
    for i in range(DERIVATIONS):
        dest = run_dir / f"in{i}"
        t0 = time.monotonic()
        rows, cut = derive(base, dest, seed, tables)
        derived.append((time.monotonic() - t0,
                        digest([dest, Path(f"{dest}_prior")])))
    if len({d[1] for d in derived}) != 1:
        fail("the same seed derived different input bytes")
    in_dir = run_dir / "in0"

    j0 = cpu_jiffies()
    rc = run_child(jvm + ["perfbench.Main", workload, str(seconds),
                          str(trace), str(in_dir), cut or "-", str(run_dir)],
                   run_dir / "jvm.log", run_dir, child_env(run_dir), deadline)
    j1 = cpu_jiffies()
    if rc != 0 or not (run_dir / "record.json").exists():
        fail(f"benchmark JVM failed (rc={rc}); see {run_dir / 'jvm.log'}")
    rec = json.loads((run_dir / "record.json").read_text())
    rec.update(seed=seed, input_dir=str(in_dir), cut=cut, input_rows=rows,
               inputs_sha256=derived[0][1])
    if rec["oracles"] and set(rec["oracles"]) != set(benchlib.REPORTS):
        fail("graft.Pipeline.REPORTS changed: update benchlib.REPORTS")
    steal = 100.0 * (j1[1] - j0[1]) / max(1, j1[0] - j0[0])
    derive_s = statistics.median(d[0] for d in derived)
    setup_s = derive_s + rec["stored_s"] + rec["warmup"]["wall_s"]

    checker = Checker(rec)
    calls = rec["calls"]
    checked = calls + (rec["trace"] or {}).get("calls", [])
    problems = [checker.problems(c) for c in checked]
    n_failed = sum(1 for p in problems if p)
    for c, p in zip(checked, problems):
        for line in p:
            print(f"  FAIL call {c['out'].rsplit('/', 1)[-1]}: {line}")

    wall = [c["wall_s"] for c in calls]
    fact = sum(rec["input_rows"].values())
    run_s = statistics.median(wall)
    e2e = {
        "run_s": run_s,
        "rows_per_s": fact / run_s,
        "cpu_s": statistics.median(c["cpu_s"] for c in calls),
        "out_bytes": statistics.median(c["out_bytes"] for c in calls),
        "cache_peak_mib": statistics.median(
            c["cache_peak_bytes"] / 2**20 for c in calls),
        "setup_s": setup_s,
        "error_rate": n_failed / len(checked),
    }
    s = benchlib.summary(wall)
    print(f"workload {workload}  seed {seed}  cpus {rec['cpus']}  "
          f"inputs {rows} sha256 {derived[0][1][:16]}"
          + (f"  cut {rec['cut']}" if rec["cut"] else ""))
    print(f"  run_s median of {s['n']} timed call(s) "
          f"{['%.2f' % w for w in wall]}; "
          f"{'p%g %.3f s' % (s['pct'], s['pct_value']) if s['pct'] else 'no percentile has 10 samples beyond it'}")
    print(f"  set-up: derive {['%.2f' % d[0] for d in derived]} s "
          f"(median counts), stored state {rec['stored_s']:.2f} s, "
          f"warm-up {rec['warmup']['wall_s']:.2f} s; ScaleGen "
          f"{gen['scalegen_s']:.1f} s {'(cached base)' if gen['cached'] else ''}")
    print(f"  host: steal {steal:.2f} %  calib {rec['calib_s']:.3f} s")
    for k, v in e2e.items():
        print(f"  {k:<16} {v:14.4f} {benchlib.END_TO_END_UNITS[k]}")

    if trace:
        metrics = benchlib.layer_metrics(rec, run_s, steal)
        units = benchlib.per_layer_units()
        tdir = WORK / "trace"
        tdir.mkdir(exist_ok=True)
        spans_path = tdir / f"{workload}-seed{seed}.spans.json"
        spans_path.write_text(json.dumps(benchlib.spans_of(rec), indent=1))
        (tdir / f"{workload}-seed{seed}.record.json").write_text(
            json.dumps(rec))
        gap = benchlib.format_gap(rec["trace"]["calls"][0], metrics)
        (tdir / f"{workload}-seed{seed}.gap.txt").write_text(
            "\n".join(gap) + "\n")
        for k, v in metrics.items():
            print(f"  {k:<36} {v:16.4f} {units[k]}")
        print("\n".join(gap))
        print(f"  spans: {spans_path}")
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": benchlib.END_TO_END_UNITS[k]}
               for k, v in e2e.items() if k != "error_rate"}
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": n_failed == 0, "attempted": len(checked),
            "failed": n_failed, "metrics": out}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").exists() or \
            not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT}")
    signal.signal(signal.SIGTERM, _kill_child)
    signal.signal(signal.SIGINT, _kill_child)
    if a.workload == "all":
        results = {w: run_workload(w, a.seed, a.seconds, a.trace)
                   for w in WORKLOADS}
        print(json.dumps(results))
    else:
        print(json.dumps(run_workload(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
