"""Memory-pressure / spill probe (the last unmeasured scale dimension the
r8 verdict named: "skew + memory pressure" — r9's skew_probe covered skew,
this covers spill).

The 100 TB question is not "does it fit" (it never does) but "does the
plan DEGRADE GRACEFULLY when task memory runs out" — shuffle/sort/agg
operators must spill to disk and keep producing EXACT results, not OOM
and not silently drop rows. Two isolated JVMs over the same sf0.1 data:

- **baseline**: the normal bench session (8g driver) — per-key result
  hash (the selfcheck canonicalization) + wall time.
- **constrained**: 2g driver AND aggressive force-spill thresholds
  (``spark.shuffle.spill.numElementsForceSpillThreshold``,
  ``spark.sql.windowExec/sortMergeJoinExec.buffer.spill.threshold`` at
  20k rows) so every sort/shuffle/window buffer spills MANY times per
  task; spill volume is read per key from the UI REST API (stage
  ``memoryBytesSpilled``/``diskBytesSpilled``).

Pass = every key's constrained-run hash EQUALS its baseline hash (spill
changed the physical execution, never the answer), with the recorded
spill volume proving the spill paths actually ran. The probed keys are
the shuffle/sort/agg-heaviest with exactly-representable outputs (counts,
decimals, single-division ratios), so hash equality is exact, not
float-lucky.

Usage: python tools/spill_probe.py [--out SPILL_PROBE.json]
       (internal: --phase baseline|constrained --json <path>)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
UI_PORT = 4057

# shuffle/sort/agg-heavy keys whose outputs are exactly representable.
# The doc/lineitem keys run on the 10x scale-probe corpora (500k docs /
# 6M lineitem rows — sf0.1 per-task state is too small to pressure a
# 12 MB/task execution pool, so spill would never engage); events/orders
# keys run at sf0.1 where the window/sort paths already spill.
X10_DOCS = "/tmp/whisper_spill/x10docs"
X10_LINE = "/tmp/whisper_spill/x10line"
KEYS = {
    "minhash_lsh_dedup": X10_DOCS,        # signature agg + banded join
    "containment_dedup_pairs": X10_DOCS,  # inverted-index join
    "word_freq_topk": X10_DOCS,           # corpus-wide explode + agg
    "part_cooccurrence_top": X10_LINE,    # basket self-join on order key
    "tpch_q18_large_orders": None,        # big HAVING agg + re-join
    "events_sessionize": None,            # sessionization window
    "order_price_deciles": None,          # range-partitioned sort
}


def ensure_inputs(spark) -> None:
    """Build the 10x inputs once (scale_probe's transforms over sf0.1);
    every table a key's query function might touch is present — the
    scaled one scaled, the rest linked from sf0.1."""
    import scale_probe as SP

    SP.SRC = SF_DIR
    for d, build in ((X10_DOCS, SP.build_documents),
                     (X10_LINE, SP.build_lineitem)):
        if not os.path.exists(os.path.join(d, "_READY")):
            build(spark, d, 10)
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"):
                dst = os.path.join(d, f"{t}.parquet")
                if not os.path.exists(dst):
                    os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), dst)
            open(os.path.join(d, "_READY"), "w").write("ok")


def _rest(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=15) as r:
        return json.loads(r.read())


def _stage_spill(app: str) -> dict:
    """(stageId, attemptId) -> (memSpilled, diskSpilled) for completed."""
    out = {}
    for s in _rest(f"applications/{app}/stages?status=complete"):
        out[(s["stageId"], s["attemptId"])] = (
            s.get("memoryBytesSpilled", 0), s.get("diskBytesSpilled", 0))
    return out


def run_phase(phase: str, out_path: str) -> None:
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count()
    if phase == "constrained":
        # real small executors keep cores proportional to memory (~190 MB
        # heap/core here); 32 threads on a 1.5g heap OOMs in UNMANAGED
        # memory (parquet/codegen buffers) before the managed pool ever
        # gets to spill — that's a misconfiguration, not memory pressure
        cpus = min(cpus, 8)
    b = (SparkSession.builder.appName(f"spill_probe_{phase}")
         .master(f"local[{cpus}]")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.autoBroadcastJoinThreshold",
                 str(64 * 1024 * 1024))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
    if phase == "constrained":
        # both levers: REAL pressure (1.5g heap, execution+storage pool
        # cut to 25%) so hash aggregates hit the memory manager and fall
        # back to external sorting, AND explicit row-count force-spill
        # thresholds for the sort/window/join buffer paths
        # a small-memory deployment disables auto-broadcasts outright (an
        # "8 MB-estimated" build side materializes to far more than its
        # estimate and a ~90 MB execution pool cannot hold it) — which
        # routes every join onto the sort-merge/shuffled-hash paths,
        # exactly the ones that must spill. Operators with explicit
        # broadcast fast paths must honor the -1 (minhash's driver-side
        # finish does, through operators.broadcast_budget — the probe once
        # caught a hardcoded 32 MB rule).
        # force thresholds sized so spill FILES stay in the tens — the
        # probe's first attempt (20k rows) manufactured hundreds of files
        # per task and the merge OOM'd allocating their simultaneous 1 MB
        # read buffers (UnsafeSorterSpillReader). That failure mode is a
        # real operational lesson recorded in BASELINE.md: spill cadence,
        # not spill volume, is what kills a constrained executor — cap
        # file count via the threshold (the reader buffer is hard-floored
        # at 1 MB by Spark's config validation).
        b = (b.config("spark.driver.memory", "1500m")
             .config("spark.memory.fraction", "0.25")
             .config("spark.sql.autoBroadcastJoinThreshold", "-1")
             .config("spark.shuffle.spill.numElementsForceSpillThreshold",
                     "200000")
             .config("spark.sql.windowExec.buffer.spill.threshold", "20000")
             .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold",
                     "200000")
             .config("spark.sql.objectHashAggregate.sortBased."
                     "fallbackThreshold", "1000")
             .config("spark.ui.enabled", "true")
             .config("spark.ui.port", str(UI_PORT))
             .config("spark.ui.retainedStages", "5000"))
    else:
        b = (b.config("spark.driver.memory",
                      os.environ.get("SPARK_DRIVER_MEM", "8g"))
             .config("spark.ui.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from selfcheck import frame_hash

    ensure_inputs(spark)
    qs = entrymod.queries()
    app = None
    if phase == "constrained":
        try:
            app = _rest("applications")[0]["id"]
        except Exception:
            print("WARN: UI REST unavailable", file=sys.stderr)
    results = {}
    for key, sf_dir in KEYS.items():
        spark.sparkContext._jvm.System.gc()
        before = _stage_spill(app) if app else {}
        t0 = time.time()
        pdf = qs[key](spark, sf_dir or SF_DIR).toPandas()
        dt = round(time.time() - t0, 3)
        row = {"rows": len(pdf), "hash": frame_hash(pdf), "sec": dt}
        if app:
            after = _stage_spill(app)
            mem = sum(v[0] for k, v in after.items() if k not in before)
            disk = sum(v[1] for k, v in after.items() if k not in before)
            row["mem_spilled_mb"] = round(mem / 1e6, 1)
            row["disk_spilled_mb"] = round(disk / 1e6, 1)
        results[key] = row
        print(f"# [{phase}] {key}: {dt}s rows={row['rows']} "
              f"spill={row.get('disk_spilled_mb')}MB", file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()


def main():
    if "--phase" in sys.argv:
        i = sys.argv.index("--phase")
        run_phase(sys.argv[i + 1],
                  sys.argv[sys.argv.index("--json") + 1])
        return
    out_path = "SPILL_PROBE.json"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    tmp_a, tmp_b = "/tmp/spill_baseline.json", "/tmp/spill_constrained.json"
    for phase, tmp in (("baseline", tmp_a), ("constrained", tmp_b)):
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--phase", phase, "--json", tmp], check=True)
    base = json.load(open(tmp_a))
    cons = json.load(open(tmp_b))
    merged = {}
    n_mismatch = 0
    for key in KEYS:
        ok = (base[key]["hash"] == cons[key]["hash"]
              and base[key]["rows"] == cons[key]["rows"])
        n_mismatch += 0 if ok else 1
        merged[key] = {
            "rows": base[key]["rows"],
            "hash_match": ok,
            "t_normal": base[key]["sec"],
            "t_spill": cons[key]["sec"],
            "slowdown": round(cons[key]["sec"]
                              / max(base[key]["sec"], 1e-3), 2),
            "mem_spilled_mb": cons[key].get("mem_spilled_mb"),
            "disk_spilled_mb": cons[key].get("disk_spilled_mb"),
        }
    payload = {"metric": "spill_probe", "sf": SF_DIR,
               "driver_mem_constrained": "2g",
               "force_spill_threshold_rows": 20000,
               "n_hash_mismatch": n_mismatch, "results": merged}
    here = os.path.dirname(HERE)
    with open(os.path.join(here, out_path), "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({"metric": "spill_probe",
                      "n_hash_mismatch": n_mismatch,
                      "n_keys": len(KEYS)}))
    if n_mismatch:
        raise SystemExit(f"{n_mismatch} keys changed results under spill")


if __name__ == "__main__":
    main()
