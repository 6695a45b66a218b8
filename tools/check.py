#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate:
run graft.Verify at a given SF, then for each query compare the Spark
parquet output against the DuckDB result of its oracle SQL (tables
registered as views over the same parquet files).

Usage: tools/check.py [sfdir] [outdir] [--skip-run] [query ...]
"""
import json, os, subprocess, sys, glob

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUTDIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
FLAGS = set(a for a in sys.argv[3:] if a.startswith("--"))
ONLY = [a for a in sys.argv[3:] if not a.startswith("--")]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = []
for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]


def run_verify():
    cp = "/root/repo/target/scala-2.13/classes:" + ":".join(
        glob.glob("/opt/spark/jars/*.jar"))
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx8g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.Verify", SFDIR, OUTDIR] +
           ([",".join(ONLY)] if ONLY else []))
    # SPARK_GRAFT_CPUS passes through from the caller; unset, graft.Verify
    # keeps its own default, so the replays run at a plain run's width
    r = subprocess.run(cmd, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print("verify FAILED rc=", r.returncode)
        print(r.stderr[-4000:])
        sys.exit(1)


def norm_cell(v):
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def main():
    import duckdb
    if "--skip-run" not in FLAGS:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SFDIR}/{t}.parquet'")
    oracle = json.load(open(f"{OUTDIR}/oracle_sql.json"))
    names = ONLY or sorted(oracle)
    npass = nfail = 0
    for name in names:
        pdir = f"{OUTDIR}/{name}"
        if not os.path.isdir(pdir):
            print(f"FAIL {name}: no spark output"); nfail += 1; continue
        got = con.execute(
            f"SELECT * FROM '{pdir}/*.parquet'")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        try:
            # HUGEINT guard: the driver's hasher is type-sensitive, and
            # DuckDB's sum(INTEGER/BIGINT) yields HUGEINT where Spark
            # emits BIGINT — a value-identical, hash-red trap that has
            # cost three red rows across rounds. Reject any oracle whose
            # OUTPUT schema contains HUGEINT before comparing values.
            desc = con.execute(f"DESCRIBE {oracle[name]}").fetchall()
            huge = [d[0] for d in desc if "HUGEINT" in str(d[1]).upper()
                    or "INT128" in str(d[1]).upper()]
            if huge:
                print(f"FAIL {name}: oracle emits HUGEINT column(s) {huge}"
                      " — wrap in CAST(... AS BIGINT)")
                nfail += 1
                continue
            exp = con.execute(oracle[name])
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); nfail += 1; continue
        ecols = [d[0] for d in exp.description]
        erows = exp.fetchall()
        gc, gr = norm_rows(gcols, grows)
        ec, er = norm_rows(ecols, erows)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} != {ec}"); nfail += 1; continue
        if len(gr) != len(er):
            print(f"FAIL {name}: rows {len(gr)} != {len(er)}"); nfail += 1
            continue
        bad = [(a, b) for a, b in zip(gr, er) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(gr)} rows differ; first:")
            print("  spark:", bad[0][0])
            print("  duck :", bad[0][1])
            nfail += 1
        else:
            print(f"PASS {name} ({len(gr)} rows)"); npass += 1
    print(f"== {npass} pass, {nfail} fail ==")
    sys.exit(1 if nfail else 0)


main()
