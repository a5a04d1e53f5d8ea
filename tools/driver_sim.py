"""Driver-contract simulation: run every queries() entry vs its oracle at sf0.01.

The repo-owned form of the per-round full-parity gate (VERDICT r6 #4): run
`python tools/driver_sim.py` on a quiet machine, then record the result line
in PARITY.md. Copy to /tmp and run with NO PYTHONPATH to also exercise the
pickle-by-value serde acid test.
Usage: python tools/driver_sim.py [name_filter ...]

Env: SPARK_GRAFT_SIM_SF_DIR overrides the sf0.01 default.
     SPARK_GRAFT_PARITY_OUT=<path> additionally writes the per-query status
     map as a machine-diffable JSON artifact (VERDICT r10 #3: the driver's
     own 50-name sample stopped rotating at 102/161 ever-checked, so the
     full-registry result is committed per round as PARITY_r{N}.json).
     Only written for UNFILTERED runs — a name-filtered run is not a
     registry-wide record — except under SPARK_GRAFT_PARITY_MERGE=1, which
     folds (or, if the file is absent, starts) a scoped artifact; scoped
     artifacts carry the name list in summary.scoped so they can never be
     mistaken for a full-registry record.
     SPARK_GRAFT_SIM_UNIVERSE=<note> stamps a corpus-provenance note into
     the artifact summary (VERDICT r13 #1: the sf1 subset-universe gate
     reads a materialized ~5% xxhash64(id)%20==0 restriction of sf1 —
     tools/gen_sf1_subset.py — so the quadratic oracles become tractable
     at decade scale; the note records that this is that corpus).
     SPARK_GRAFT_SIM_ORACLE_CAP=<seconds> arms a per-query DUCKDB watchdog
     (tests/parity.compare oracle_cap_s): needed for the sf0.1 run
     (VERDICT r11 #4), where the deliberately-quadratic oracles would run
     uncapped for tens of minutes each. Capped queries are recorded as
     "oracle-capped(Ns)" — a disposition distinct from green and red (the
     SPARK side still ran; only the DuckDB ground truth timed out). Uses a
     fresh DuckDB connection per query so a late interrupt cannot poison
     the next statement.
"""

import json
import sys
import time
import traceback

import os

def _repo_root() -> str:
    """Repo root that works from ANY copy location: walk up from the script
    (tools/ layout), then the cwd, then $SPARK_GRAFT_REPO — so the documented
    'copy to /tmp, run with no PYTHONPATH' serde acid test actually runs
    instead of failing on a hardcoded parent-of-parent path."""
    env = os.environ.get("SPARK_GRAFT_REPO")
    starts = [os.path.dirname(os.path.abspath(__file__)), os.getcwd()]
    for start in starts:
        d = start
        while d != os.path.dirname(d):
            if os.path.isdir(os.path.join(d, "migdar_data_pipelines_spark")):
                return d
            d = os.path.dirname(d)
    if env:
        return env
    raise SystemExit(
        "driver_sim: cannot locate the repo (no migdar_data_pipelines_spark "
        "above the script or cwd); set SPARK_GRAFT_REPO"
    )

sys.path.insert(0, _repo_root())

import duckdb
from pyspark.sql import SparkSession

from migdar_data_pipelines_spark.session import host_driver_mem

SF_DIR = os.environ.get("SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main():
    filters = sys.argv[1:]
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", host_driver_mem())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from tests import parity

    ent = e.entry(spark)
    n = ent.count()
    print(f"entry(): {n} rows, schema={[f.name for f in ent.schema.fields]}")
    assert n >= 0

    def _fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            c.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        return c

    cap = float(os.environ.get("SPARK_GRAFT_SIM_ORACLE_CAP", "0") or 0)
    con = _fresh_con()

    qs = e.queries()
    oracles = e.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            if name in oracles:
                if cap:
                    c2 = _fresh_con()
                    try:
                        parity.compare(
                            df, c2, oracles[name], name=name, oracle_cap_s=cap
                        )
                        status = "green"
                    except duckdb.InterruptException:
                        status = f"oracle-capped({int(cap)}s)"
                    finally:
                        c2.close()
                else:
                    parity.compare(df, con, oracles[name], name=name)
                    status = "green"
            else:
                c = df.count()
                status = f"rows-only({c})"
        except Exception as ex:
            status = "RED"
            print(f"--- {name} FAILED ---")
            traceback.print_exc()
        results[name] = (status, round(time.time() - t0, 2))
        print(f"{name}: {status} ({results[name][1]}s)")

    reds = [k for k, v in results.items() if v[0] == "RED"]
    rows_only = [k for k, v in results.items() if v[0].startswith("rows-only")]
    capped = [k for k, v in results.items() if v[0].startswith("oracle-capped")]
    summary = {
        "total": len(results),
        "red": reds,
        "rows_only": rows_only,
        "sf_dir": SF_DIR,
        "date": time.strftime("%Y-%m-%d"),
    }
    universe = os.environ.get("SPARK_GRAFT_SIM_UNIVERSE")
    if universe:
        summary["universe"] = universe
    if cap:
        summary["oracle_capped"] = capped
        summary["oracle_cap_s"] = cap
    out_path = os.environ.get("SPARK_GRAFT_PARITY_OUT")
    merge = os.environ.get("SPARK_GRAFT_PARITY_MERGE") == "1"
    if out_path and not filters:
        with open(out_path, "w") as f:
            json.dump(
                {
                    "summary": summary,
                    "queries": {
                        k: {"status": v[0], "wall_s": v[1]}
                        for k, v in sorted(results.items())
                    },
                },
                f,
                indent=1,
            )
        print(f"wrote {out_path}")
    elif out_path and filters and merge and not os.path.exists(out_path):
        # Scoped artifact bootstrap: a filtered merge run with no existing
        # file STARTS the artifact instead of silently writing nothing
        # (needed for the sf1 subset gate, which only reruns the 23 names
        # the full-corpus quadratic oracle capped). summary.scoped makes
        # the restriction machine-visible.
        summary["scoped"] = sorted(results)
        with open(out_path, "w") as f:
            json.dump(
                {
                    "summary": summary,
                    "queries": {
                        k: {"status": v[0], "wall_s": v[1]}
                        for k, v in sorted(results.items())
                    },
                },
                f,
                indent=1,
            )
        print(f"wrote scoped {out_path}")
    elif out_path and filters and merge and os.path.exists(out_path):
        # Incremental artifact update (VERDICT r12 #3's staleness class):
        # queries registered AFTER a multi-hour full run started fold their
        # results into the existing artifact instead of forcing a complete
        # rerun. Only ADDS/REFRESHES the filtered names; the summary is
        # recomputed over the merged map and stamped with the merge note.
        with open(out_path) as f:
            doc = json.load(f)
        assert doc["summary"]["sf_dir"] == SF_DIR, (
            f"artifact {out_path} is for {doc['summary']['sf_dir']}, "
            f"refusing to merge a {SF_DIR} run into it"
        )
        for k, v in results.items():
            doc["queries"][k] = {"status": v[0], "wall_s": v[1]}
        q = doc["queries"]
        doc["summary"]["total"] = len(q)
        doc["summary"]["red"] = [k for k, s in q.items() if s["status"] == "RED"]
        doc["summary"]["rows_only"] = [
            k for k, s in q.items() if s["status"].startswith("rows-only")
        ]
        if "oracle_capped" in doc["summary"]:
            doc["summary"]["oracle_capped"] = [
                k for k, s in q.items() if s["status"].startswith("oracle-capped")
            ]
        doc["summary"].setdefault("merged_in", []).extend(sorted(results))
        if "scoped" in doc["summary"]:
            doc["summary"]["scoped"] = sorted(
                set(doc["summary"]["scoped"]) | set(results)
            )
        doc["queries"] = dict(sorted(q.items()))
        with open(out_path, "w") as f:
            json.dump(doc, f, indent=1)
        print(f"merged {sorted(results)} into {out_path}")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
