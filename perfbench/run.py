#!/usr/bin/env python3
"""Benchmark of the recommendation engine, run from the root of a checkout:

    python3 perfbench/run.py --workload {lifecycle,catalog} \\
        --seed N --seconds S --trace {0,1}

Builds the program (perfbench/build.py), makes the workload's inputs from
the seed, runs one JVM (Spark local[nproc], one closed-loop client) that
repeats set-up and passes of the workload for S seconds, checks the outputs
(in the JVM and against the DuckDB oracle here), and prints every metric
by name on stderr and, as the last stdout line, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
A copy of each result with the raw samples and a host stamp goes to
.bench_build/runs/ for perfbench/compare.py.

Workloads (inputs: perfbench/data/sf0.01, the sf0.01 TPC-H-ish tables):
  lifecycle  dvid injections 1..5 of a seeded customer and part sample,
             each built, appended and loaded; fold 5 then refreshes: feature
             fold, link-prediction training, top-3 for every customer.
  catalog    a fixed cross-module set of SparkEntry.queries entries, cold,
             in seeded order, each result hash-matched against its DuckDB
             oracle.

End-to-end metrics (--trace 0): pass_s is one pass's wall (lifecycle: the
five folds, injection 1 to every customer's recommendations; catalog: the
shared memos filled, then every entry once), pass_cpu_s the CPU time the
JVM spent in it, live_heap_mb the heap still reachable after it, setup_s
the median of three session set-ups. The per-operation quantiles (folds;
entries) are per-layer metrics (ops.p50_s, ops.p90_s): five folds or twelve
entries are too few for a steady quantile.
"""
import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # the checkout stays as it was, bar .bench_build
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BASE = HERE / "data" / "sf0.01"
BUILD = ROOT / ".bench_build"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# shares of the orders (whole customers' histories) and of the parts the
# lifecycle injects
LIFECYCLE_SAMPLE = 0.08
LIFECYCLE_PARTS = 0.30
JVM_TIMEOUT_S = 160
# the issue's names for this benchmark's generic end-to-end metrics
ALIASES = {
    "lifecycle": {"lifecycle_s": "pass_s", "fold_last_s": "pipeline.fold_last_s"},
    "catalog": {"catalog_s": "pass_s", "catalog_p50_s": "ops.p50_s",
                "catalog_p90_s": "ops.p90_s"},
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ inputs

def lifecycle_inputs(seed: int) -> Path:
    """Five cumulative injection dirs inj1..inj5 for one seed (cached).

    The seed picks the customer and part samples (the customers hold a
    fixed share of the orders) and the order -> injection split; line items of unsampled parts are dropped.
    A customer's first order lands in injection 1, so every sampled
    customer is in the graph from the first fold on, and only the sampled
    customers' nations are kept, so no node lacks an edge; order keys are
    renumbered 5*k + (injection - 1) so the graph builder's dvid
    (o_orderkey mod 5 + 1) is the order's injection."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    out = BUILD / "data" / f"lifecycle-s{seed}-o{LIFECYCLE_SAMPLE}-p{LIFECYCLE_PARTS}"
    if (out / "done").exists():
        return out
    rnd = random.Random(seed)
    orders = pq.read_table(BASE / "orders.parquet")
    li = pq.read_table(BASE / "lineitem.parquet")
    cust = pq.read_table(BASE / "customer.parquet")
    part = pq.read_table(BASE / "part.parquet")
    ok = orders.column("o_orderkey").to_pylist()
    oc = orders.column("o_custkey").to_pylist()
    od = orders.column("o_orderdate").to_pylist()
    # whole customers, in seeded order, until the sample holds its share of
    # the orders: every seed injects (nearly) the same number of orders
    per_cust = {}
    for c in oc:
        per_cust[c] = per_cust.get(c, 0) + 1
    buyers = sorted(per_cust)
    rnd.shuffle(buyers)
    sample, n_orders = set(), 0
    for c in buyers:
        if n_orders >= LIFECYCLE_SAMPLE * len(ok):
            break
        sample.add(c)
        n_orders += per_cust[c]
    pkeys = part.column("p_partkey").to_pylist()
    parts = rnd.sample(pkeys, round(LIFECYCLE_PARTS * len(pkeys)))
    ptype = part.schema.field("p_partkey").type
    part_s = part.filter(pc.is_in(part.column("p_partkey"), value_set=pa.array(sorted(parts), type=ptype)))
    li = li.filter(pc.is_in(li.column("l_partkey"), value_set=pa.array(sorted(parts), type=ptype)))
    first = {}
    for k, c, d in sorted(zip(ok, oc, od), key=lambda t: (t[2], t[0])):
        if c in sample:
            first.setdefault(c, k)
    inj = {}
    for k, c in zip(ok, oc):
        if c in sample:
            inj[k] = 1 if first[c] == k else rnd.randint(1, 5)

    def renumber(table, col):
        keys = table.column(col).to_pylist()
        keep = pa.array([k in inj for k in keys])
        t = table.filter(keep)
        kept = t.column(col).to_pylist()
        t = t.set_column(t.schema.get_field_index(col), col,
                         pa.array([5 * k + inj[k] - 1 for k in kept],
                                  type=table.schema.field(col).type))
        return t, pa.array([inj[k] for k in kept])

    orders_s, orders_inj = renumber(orders, "o_orderkey")
    li_s, li_inj = renumber(li, "l_orderkey")
    cust_s = cust.filter(pc.is_in(cust.column("c_custkey"),
                                  value_set=pa.array(sorted(sample),
                                                     type=cust.schema.field("c_custkey").type)))
    # only the sampled customers' nations: a location node without
    # customers would have no edge, hence no feature row
    nation = pq.read_table(BASE / "nation.parquet")
    nation_s = nation.filter(pc.is_in(nation.column("n_nationkey"),
                                      value_set=pa.array(sorted(set(cust_s.column("c_nationkey").to_pylist())),
                                                         type=nation.schema.field("n_nationkey").type)))
    tmp = out.with_name(out.name + ".tmp")
    for d in range(1, 6):
        dd = tmp / f"inj{d}"
        dd.mkdir(parents=True, exist_ok=True)
        pq.write_table(orders_s.filter(pc.less_equal(orders_inj, d)), dd / "orders.parquet")
        pq.write_table(li_s.filter(pc.less_equal(li_inj, d)), dd / "lineitem.parquet")
        pq.write_table(cust_s, dd / "customer.parquet")
        pq.write_table(nation_s, dd / "nation.parquet")
        pq.write_table(part_s, dd / "part.parquet")
        for t in ("region", "supplier"):
            pq.write_table(pq.read_table(BASE / f"{t}.parquet"), dd / f"{t}.parquet")
    (tmp / "done").write_text("ok\n")
    if out.exists():
        import shutil
        shutil.rmtree(out)
    tmp.rename(out)
    return out


# ------------------------------------------------------------------ checks

def oracle_check(dump: Path, data: Path) -> dict:
    """Hash-match every dumped entry that has an oracle against DuckDB on
    the same tables, with the repo's canonical compare (tools/verify_local)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    import pandas as pd
    from verify_local import canon
    con = duckdb.connect()
    for t in TABLES:
        p = data / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    result = {}
    for name, sql in sorted(oracle.items()):
        files = sorted((dump / name).glob("*.parquet"))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            g, w = canon(got), canon(con.sql(sql).df())
            ok = list(g.columns) == list(w.columns) and len(g) == len(w)
            if ok:
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
        except Exception as e:  # a mismatch or an oracle error both fail
            log(f"oracle mismatch {name}: {str(e).splitlines()[0][:160] if str(e) else e!r}")
            ok = False
        result[name] = ok
    return result


# ----------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(raw: dict) -> dict:
    return {"setup_s": median(raw["setup_s"]), "pass_s": median(raw["passes"]),
            "pass_cpu_s": median(raw["pass_cpu_s"]),
            "live_heap_mb": median(raw["live_heap_mb"])}


def per_layer(raw: dict) -> dict:
    keys = {k for layer in raw["layers"] for k in layer}
    out = {k: median([layer.get(k, 0.0) for layer in raw["layers"]]) for k in keys}
    # names the issue gives to values measured under another name: only
    # fold 5 refreshes, and the k-NN's shuffle is its call's shuffle
    out["pipeline.featurefold_last_s"] = out.get("pipeline.featurefold_s", 0.0)
    out["sim.knn_shuffle_mb"] = out.get("sim.knn.shuffle_mb", 0.0)
    out["core.memo_evictions"] = float(raw["memo_evictions"])
    out["core.memo_freed_mb"] = raw["memo_freed_mb"]
    walls = [o["wall"] for o in raw["ops"]]
    out["ops.p50_s"], out["ops.p90_s"] = median(walls), p90(walls)
    out["trace.pass_s"] = median(raw["passes"])
    out["peak_rss_mb"] = raw["peak_rss_mb"]
    return out


# -------------------------------------------------------------------- host

def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def java_cmd(classpath: list, args: list) -> list:
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no perf-data file: the JVM would write it under the system temp root
    return (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", ":".join(classpath), "perfbench.Main"] + args)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["lifecycle", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    sys.path.insert(0, str(HERE))
    import build
    classpath = build.build()
    if not (BASE / "orders.parquet").exists():
        sys.exit(f"missing benchmark data {BASE}")
    data = lifecycle_inputs(a.seed) if a.workload == "lifecycle" else BASE
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    cpus = os.cpu_count() or 1

    steal0, t0 = steal_jiffies(), time.time()
    cmd = java_cmd(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                               str(data), str(work), str(cpus)])
    logs = BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    with open(logs / f"{a.workload}-{a.seed}-{a.trace}.log", "w") as err:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                              cwd=ROOT, timeout=JVM_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"JVM exited {proc.returncode} without a result; see {err.name}")
    raw = json.loads(lines[-1][len("PERFBENCH "):])
    host = {"nproc": cpus, "calib_s": raw["calib_s"],
            "steal_s": (steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK"),
            "wall_s": time.time() - t0}

    # a failed check counts as a failed operation, next to the operations
    # that threw in the JVM
    checks = dict(raw["checks"])
    if a.workload == "catalog":
        oracle = oracle_check(work / "oracle", data)
        checks.update({f"oracle:{k}": v for k, v in oracle.items()})
    if a.workload == "lifecycle":
        # the final-fold recommendations are the same in every run of a seed
        ref = BUILD / "digests" / f"lifecycle-{a.seed}-o{LIFECYCLE_SAMPLE}-p{LIFECYCLE_PARTS}.txt"
        digest = raw["notes"]["final_digest"]
        if ref.exists():
            checks["final_digest_stable"] = ref.read_text().strip() == digest
        else:
            ref.parent.mkdir(parents=True, exist_ok=True)
            ref.write_text(digest + "\n")
    bad_checks = [k for k, v in checks.items() if not v]
    attempted = raw["attempted"] + len(checks)
    failed = raw["failed"] + len(bad_checks)

    kind = "per_layer" if a.trace else "end_to_end"
    values = per_layer(raw) if a.trace else end_to_end(raw)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}

    n_ops = len(raw["ops"])
    log(f"{a.workload} seed={a.seed} trace={a.trace}: {len(raw['passes'])} passes, "
        f"{n_ops} ops, {len(raw['setup_s'])} set-ups; fail_ratio={failed / max(attempted, 1):.4f} "
        f"({failed}/{attempted}); host nproc={cpus} calib_s={raw['calib_s']} "
        f"steal_s={host['steal_s']:.2f}")
    for k, v in metrics.items():
        log(f"  {k} = {v['value']:.6g} {v['unit']}")
    allm = {**end_to_end(raw), **per_layer(raw)}
    for alias, name in ALIASES[a.workload].items():
        log(f"  {alias} = {allm.get(name, 0.0):.6g} s  (= {name})")
    log(f"  peak_rss_mb = {raw['peak_rss_mb']:.6g} MB")
    for k in bad_checks:
        log(f"  FAILED CHECK {k}")
    for k, v in raw["notes"].items():
        if k not in ("entries", "final_digest"):
            log(f"  {k} = {v}")

    runs = BUILD / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    side = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
            "fail_ratio": failed / max(attempted, 1), "checks": checks,
            "result": result, "all_metrics": allm,
            "raw": raw}
    (runs / f"{a.workload}-s{a.seed}-t{a.trace}-{int(t0 * 1000)}.json").write_text(json.dumps(side))
    import shutil
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
