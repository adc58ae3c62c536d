#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest|curation|warehouse> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source with sbt (offline) on first use, generates the workload's inputs
from the seed, runs the harness JVM for whole rounds of the workload's
ops, checks every op's output against facts computed apart from the
program, and prints one JSON result line last on stdout.

Everything a run writes goes under `.bench_build/` in the checkout: the
build's classpath stamp, and a per-run directory (inputs, outputs,
java.io.tmpdir, Spark local and warehouse dirs) that is removed when the
run ends.
"""
import argparse
import glob
import gzip
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = os.path.join(HERE, "workloads.json")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _b = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in _b["end_to_end"] + _b["per_layer"]}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170

# workload sizes; the seed picks the values, never the sizes
INGEST = {"n_per_source": 4000, "batch_size": 250}
CURATION = {"base_sf": 0.01, "factor": 10}
WAREHOUSE = {"sf": 0.01}
MICROBENCH_ROWS = 10000
# a fixed-size heap keeps peak RSS from following the collector's sizing
HEAP = "2560m"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def source_key():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(BUILD, "perfbench-classpath.json")
    key = source_key()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("key") == key:
            return s["classpath"]
    log("building program and harness with sbt (offline)")
    # no sbt server (its socket lives under the system temp dir) and no JVM
    # perf-data file (hsperfdata also lives there)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-error",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, capture_output=True, text=True,
        timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"key": key, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def file_modules():
    """Source file name -> module (the directory under src/main/scala/graft)."""
    base = os.path.join(ROOT, "src", "main", "scala", "graft")
    out = {}
    for d, _, fs in os.walk(base):
        rel = os.path.relpath(d, base)
        mod = "graft" if rel == "." else rel.split(os.sep)[0]
        for f in fs:
            if f.endswith(".scala"):
                out[f] = mod
    return out


# ---------------------------------------------------------------------------
# correctness checks (outside the timed region, after the JVM exits)
# ---------------------------------------------------------------------------

def canon(v):
    """Value normalization of tools/oracle_check.py."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return v
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def oracle_views(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count() or 1}")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(data_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def compare(con, want, qdir):
    """The comparison tools/oracle_check.py makes; returns an error or None."""
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return "no spark output"
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
    wcols, gcols = sorted(want.column_names), sorted(got.column_names)
    if wcols != gcols:
        return f"columns differ: oracle={wcols} spark={gcols}"
    tdiff = [c for c in wcols if want.schema.field(c).type != got.schema.field(c).type]
    if tdiff:
        return f"arrow types differ on {tdiff}"
    wrows = [tuple(canon(r[c]) for c in wcols) for r in want.to_pylist()]
    grows = [tuple(canon(r[c]) for c in gcols) for r in got.to_pylist()]
    if len(wrows) != len(grows):
        return f"rows differ: oracle={len(wrows)} spark={len(grows)}"
    bad = sum(1 for w, g in zip(wrows, grows) if w != g)
    return f"{bad}/{len(wrows)} rows differ" if bad else None


def check_catalog(res, data_dir, run_dir):
    """Ops whose first-pass output differs from the DuckDB oracle, or whose
    fingerprint in any timed round differs from that output's."""
    con = oracle_views(data_dir)
    bad = {}
    for name, sql in res["oracle"].items():
        t0 = time.time()
        try:
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:                       # noqa: BLE001
            bad[name] = f"oracle error: {e}"
            continue
        log(f"oracle {name} {time.time() - t0:.2f}s")
        err = compare(con, want, os.path.join(run_dir, "out", name))
        if err:
            bad[name] = err
            continue
        want_fp = res["fingerprint_expected"][name]
        got = res["fingerprints"].get(name, [])
        if any(fp != want_fp for fp in got):
            bad[name] = f"timed-round fingerprints {sorted(set(got))} != {want_fp}"
    return bad


def read_ndjson(out_dir, source):
    files = sorted(glob.glob(os.path.join(out_dir, source, f"{source}-batch-*.jsonl.gz")))
    recs = []
    for f in files:
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            recs += [json.loads(x) for x in fh if x.strip()]
    return [os.path.basename(f) for f in files], recs


def check_ingest(res, run_dir, facts, batch_size):
    import pyarrow.parquet as pq
    bad = {}
    info = {i["round"]: i for i in res.get("ingest_rounds", [])}
    expected_groups = {}
    for src, f in facts["sources"].items():
        for norm in f["normalized"].values():
            if norm is not None:
                g = expected_groups.setdefault(norm, [0, set()])
                g[0] += 1
                g[1].add(src)
    for r in sorted({0, res["rounds"] - 1}):
        base = os.path.join(run_dir, "ingest", f"r{r}")
        # ingest: records, identifiers and batch numbering per source
        for src, f in facts["sources"].items():
            names, recs = read_ndjson(os.path.join(base, "out"), src)
            n = f["records"]
            want_names = [f"{src}-batch-{i:06d}.jsonl.gz"
                          for i in range(1, math.ceil(n / batch_size) + 1)]
            got = {x["identifier"]: x["smiles"] for x in recs if x.get("source") == src}
            if names != want_names:
                bad["ingest"] = f"round {r} {src}: batch files {len(names)} != {len(want_names)}"
            elif len(recs) != n or got != f["identifiers"]:
                bad["ingest"] = f"round {r} {src}: records differ ({len(recs)} vs {n})"
        # curate: valid count, distinct normalized forms, weights
        files = sorted(glob.glob(os.path.join(base, "curated", "*.parquet")))
        rows = [x for p in files for x in pq.read_table(p).to_pylist()]
        got = {x["norm"]: x for x in rows}
        err = None
        if len(rows) != facts["distinct_normalized"] or len(got) != len(rows):
            err = f"{len(rows)} groups, want {facts['distinct_normalized']}"
        elif sum(x["n"] for x in rows) != facts["valid"]:
            err = f"{sum(x['n'] for x in rows)} valid, want {facts['valid']}"
        else:
            for norm, (cnt, srcs) in expected_groups.items():
                g = got.get(norm)
                w = facts["weights"][norm]
                if g is None or g["n"] != cnt or g["n_sources"] != len(srcs) \
                        or abs(g["mw"] - w) > 1e-9 * w:
                    err = f"group {norm}: got {g}, want n={cnt} mw={w}"
                    break
        if err:
            bad["curate"] = f"round {r}: {err}"
        # resume: nothing recomputed, no file added or rewritten
        i = info.get(r, {})
        data = lambda xs: [x for x in xs if not x.startswith("out/run-log.jsonl ")
                           and not x.startswith("out/raw-data-report.md ")]
        names = lambda xs: sorted(x.rsplit(" ", 1)[0] for x in xs)
        if data(i.get("before_resume", [])) != data(i.get("after_resume", [None])) \
                or names(i.get("before_resume", [])) != names(i.get("after_resume", [])):
            bad["resume"] = f"round {r}: resume changed the output files"
        elif i.get("resume_records") != 0 or "dedup:resumed" not in i.get("resume_actions", "") \
                or "sink:skipped" not in i.get("resume_actions", ""):
            bad["resume"] = f"round {r}: resume recomputed ({i.get('resume_actions')})"
    return bad


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def best_times(ops):
    """Each op's best time over the run's rounds: graft.Bench's steady
    per-query time (min over passes), which an intermittent stall of the
    machine in one round does not move."""
    best = {}
    for o in ops:
        best[o["name"]] = min(best.get(o["name"], math.inf), o["secs"])
    return best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "curation", "warehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no program sources at the checkout root")
    # a terminated run still removes its directory and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    import gen
    classpath = build()
    # set-up time and the run's time limit start once the build is done, so
    # a cold or changed-source build is in neither
    t_start = time.time()

    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}-{int(t_start * 1000)}")
    try:
        result = run(a, gen, classpath, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def run(a, gen, classpath, run_dir, t_start):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    with open(WORKLOADS) as fh:
        lists = json.load(fh)
    spec = {"workload": a.workload, "run_dir": run_dir, "seconds": a.seconds,
            "trace": bool(a.trace), "file_module": file_modules(), "ops": [],
            "result": os.path.join(run_dir, "result.json"),
            "data_dir": os.path.join(run_dir, "data"),
            "microbench_rows": MICROBENCH_ROWS}
    facts = None
    if a.workload == "ingest":
        spec["corpus_dir"] = os.path.join(run_dir, "corpus")
        spec["batch_size"] = INGEST["batch_size"]
        files = max(os.cpu_count() or 1, 4)
        facts = gen.molecule_corpus(a.seed, spec["corpus_dir"], INGEST["n_per_source"], files)
        spec["warm_corpus_dir"] = os.path.join(run_dir, "warm_corpus")
        gen.molecule_corpus(a.seed + 1, spec["warm_corpus_dir"], 500, files)
    else:
        w = lists[a.workload]
        spec["ops"] = [q["name"] for q in w["queries"]]
        if a.workload == "curation":
            base = os.path.join(run_dir, "base")
            tables = gen.catalog_tables(a.seed, CURATION["base_sf"])
            gen.write_tables(tables, base)
            gen.write_tables(tables, spec["data_dir"])
            scaled = sorted({t for q in w["queries"] for t in q["tables"]} & set(tables))
            spec["scale"] = {"src": base, "factor": CURATION["factor"], "tables": scaled}
        else:
            tables = gen.catalog_tables(a.seed, WAREHOUSE["sf"])
            gen.write_tables(tables, spec["data_dir"])
        del tables
    with open(os.path.join(run_dir, "spec.json"), "w") as fh:
        json.dump(spec, fh)

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", spec["run_dir"] + "/spec.json"]
    try:
        p = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir,
                           timeout=RUN_LIMIT_S - (time.time() - t_start))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"harness did not finish within {RUN_LIMIT_S}s") from None
    if p.returncode != 0 or not os.path.exists(spec["result"]):
        raise SystemExit(f"harness exited with {p.returncode}")
    with open(spec["result"]) as fh:
        res = json.load(fh)

    ops = res["ops"]
    # an op whose output differs from the independent facts is wrong and
    # makes the run incorrect; an op that raised is failed. Both count in
    # `failed`, and neither counts in the metrics.
    raised = {o["name"]: o["error"] for o in ops if not o["ok"]}
    if a.workload == "ingest":
        wrong = check_ingest(res, run_dir, facts, INGEST["batch_size"])
    else:
        wrong = check_catalog(res, spec["data_dir"], run_dir)
    wrong = {n: why for n, why in wrong.items() if n not in raised}
    bad = {**wrong, **raised}
    per_op = {}
    for o in ops:
        per_op.setdefault(o["name"], []).append(o["secs"])
    log(f"{res['rounds']} rounds; per op best/median time: " + ", ".join(
        f"{n}={min(v):.3f}/{statistics.median(v):.3f}s"
        for n, v in sorted(per_op.items(), key=lambda x: -statistics.median(x[1]))))
    for name, why in sorted(bad.items()):
        log(f"FAILED {name}: {why}")
    failed = sum(1 for o in ops if o["name"] in bad)
    good = [o for o in ops if o["name"] not in bad]
    if not good:
        raise SystemExit("every op failed; no metric can be measured")

    if a.trace:
        # figures BENCHMARK.json does not list go to stderr only: times that
        # read 0 on a listed workload, and other figures that read 0 on all
        missing = sorted(m["name"] for m in _b["per_layer"] if m["name"] not in res["layers"])
        if missing:
            raise SystemExit(f"traced run reported no {', '.join(missing)}")
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(res["layers"].items())
                   if k in UNITS}
        log("layer figures outside BENCHMARK.json: " + ", ".join(
            f"{k}={v:.4g}" for k, v in sorted(res["layers"].items()) if k not in UNITS))
        split = res.get("split", [])
        worst = max(split, key=lambda s: abs(s["gap"]), default={"gap": 0.0, "op": "-"})
        if split:
            log(f"split gaps: mean {statistics.mean(s['gap'] for s in split):+.3f}")
        log(f"split check: {len(split)} catalog ops, worst |build+plan+exec-total|/total "
            f"= {abs(worst['gap']):.3f} on {worst['op']} "
            f"({'ok' if abs(worst['gap']) <= 0.05 else 'OVER 5%'})")
        log(f"tracing overhead per round: {res['layers']['trace.overhead_s']:.3f}s")
        for layer, v in res.get("span_summary", {}).items():
            log(f"spans {layer}: {v['spans']} spans, {v['total_s']:.3f}s per round, "
                f"self {v['self_s']:.3f}s")
    else:
        best = best_times(good)
        metrics = {
            "setup_s": res["first_op_epoch_ms"] / 1000.0 - t_start,
            "total_s": sum(best.values()),
            # every attempt's time, so no single op's noise decides it
            "op_p50_s": statistics.median(o["secs"] for o in good),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    return {"correct": not wrong, "attempted": len(ops), "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
