#!/usr/bin/env python3
"""Regenerate perfbench/workloads.json from the workloads' stated rules.

    python3 perfbench/regen_workloads.py

- warehouse: every catalog query with a DuckDB oracle that reads no corpus
  table (`documents`, `embeddings`), sampled across the sets of catalog
  tables the queries read: one query per table set in each pass, cheapest
  first within a set and cheapest set first within a pass, until the next
  query would overrun ROUND_BUDGET_S. Every table set, `events` included,
  so has its cheapest query in the list.
- curation: every catalog query with an oracle that reads a corpus table
  and whose steady time grows at least GROWTH times from the curation base
  scale to its 10x ScaleGen copy, plus the grouped-pair sites and q93/q96,
  capped to ROUND_BUDGET_S keeping the named sites first and then the
  fastest-growing queries.

Steady time is the best of two passes of QueryDef.fn plus a full
evaluation, at the curation base scale (which is also the warehouse
scale) and, for corpus readers, at its 10x copy.

Tables read come from the leaf file relations of the analyzed plan of
every query execution a query starts (perfbench.Select). A query whose
output differs from its oracle on any of SEEDS is left out and listed
under "excluded" with the reason.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

CORPUS = {"documents", "embeddings"}
CATALOG = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem",
           "events", "documents", "embeddings"}
NAMED = ["q44_", "q76_", "q124_", "q126_", "q188_", "q189_", "q203_", "q218_", "q93_", "q96_"]
GROWTH = 3.0
ROUND_BUDGET_S = {"curation": 12.0, "warehouse": 2.5}
SEEDS = [1, 2, 3]


def java(classpath, main, *args, cwd):
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={cwd}"]
    for m in run.JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    subprocess.run(cmd + ["-cp", classpath, main, *args], check=True, cwd=cwd,
                   stdout=sys.stderr, env=env)


def main():
    # one timing pass serves both lists only while the scales agree
    assert run.WAREHOUSE["sf"] == run.CURATION["base_sf"]
    classpath = run.build()
    work = os.path.join(run.BUILD, "select")
    shutil.rmtree(work, ignore_errors=True)
    base, scaled = os.path.join(work, "base"), os.path.join(work, "x10")
    gen.write_tables(gen.catalog_tables(SEEDS[0], run.CURATION["base_sf"]), base)
    java(classpath, "graft.tools.ScaleGen", base, scaled, str(run.CURATION["factor"]), cwd=work)
    facts_path = os.path.join(work, "facts.json")
    java(classpath, "perfbench.Select", facts_path, base, scaled, cwd=work)
    with open(facts_path) as fh:
        facts = json.load(fh)
    excluded = {}
    for seed in SEEDS:
        for w, qs in candidates(facts).items():
            bad = verify(classpath, w, seed, [q["name"] for q in qs if q["name"] not in excluded])
            for name, why in bad.items():
                excluded.setdefault(name, f"{w} seed {seed}: {why}")
    with open(os.path.join(HERE, "workloads.json"), "w") as fh:
        json.dump(choose(facts, excluded), fh, indent=1)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)


def candidates(facts):
    """The lists each rule admits, before the oracle filter and the cap."""
    facts = [q for q in facts if q["oracle"] and "error" not in q]
    for q in facts:
        q["growth"] = q["secs"][1] / q["secs"][0] if len(q["secs"]) > 1 else 1.0
    return {
        "warehouse": [q for q in facts if q["tables"] and not CORPUS & set(q["tables"])],
        "curation": [q for q in facts if CORPUS & set(q["tables"])
                     and (q["growth"] >= GROWTH or any(q["name"].startswith(n) for n in NAMED))]}


def stratified(qs):
    """The warehouse order: pass k takes the k-th cheapest query of every
    set of catalog tables read (temporary tables a query writes and reads
    back are not catalog tables), cheapest first."""
    sets = {}
    for q in sorted(qs, key=lambda q: (q["secs"][-1], q["name"])):
        sets.setdefault(tuple(t for t in q["tables"] if t in CATALOG), []).append(q)
    depth = max((len(v) for v in sets.values()), default=0)
    return [q for k in range(depth)
            for q in sorted((v[k] for v in sets.values() if k < len(v)),
                            key=lambda q: (q["secs"][-1], q["name"]))]


def choose(facts, excluded):
    """Apply the oracle filter and cap each list to its round budget:
    warehouse in stratified order; curation keeping the named sites first,
    then the fastest-growing queries."""
    out = {"rule": __doc__.strip().splitlines()[2:], "excluded": excluded}
    for w, qs in candidates(facts).items():
        keep = [q for q in qs if q["name"] not in excluded]
        named = [q for q in keep if any(q["name"].startswith(n) for n in NAMED)]
        if w == "warehouse":
            order = stratified(keep)
        else:
            order = named + sorted((q for q in keep if q not in named),
                                   key=lambda q: (-q["growth"], q["name"]))
        chosen, spent = [], 0.0
        for q in order:
            if spent + q["secs"][-1] > ROUND_BUDGET_S[w] and q not in named:
                if w == "warehouse":
                    break
                continue
            chosen.append(q)
            spent += q["secs"][-1]
        out[w] = {"candidates": len(keep), "round_estimate_s": round(spent, 2),
                  "queries": [{"name": q["name"], "tables": q["tables"],
                               "base_s": round(q["secs"][0], 3),
                               "x10_s": round(q["secs"][-1], 3),
                               "growth": round(q["growth"], 2)}
                              for q in sorted(chosen, key=lambda q: q["name"])]}
    return out


def verify(classpath, workload, seed, names):
    """Run one round of `names` on `seed`; return {name: why} for failures."""
    with open(run.WORKLOADS) as fh:
        saved = fh.read()
    lists = json.loads(saved) if saved.strip() else {}
    lists[workload] = {"queries": [{"name": n, "tables": []} for n in names]}
    try:
        with open(run.WORKLOADS, "w") as fh:
            json.dump(lists, fh)
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", "0", "--trace", "0"],
                           capture_output=True, text=True)
    finally:
        with open(run.WORKLOADS, "w") as fh:
            fh.write(saved)
    bad = {}
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench] FAILED "):
            name, why = line[len("[perfbench] FAILED "):].split(": ", 1)
            bad[name] = why
    return bad


if __name__ == "__main__":
    t0 = time.time()
    main()
    print(f"workloads.json written in {time.time() - t0:.0f}s", file=sys.stderr)
