"""The ``registry`` workload: rows of the query registry, relational and
LLM-data, in a closed loop with one client.

One row at a time, each query is built by its public function
(``queries.<module>.QUERIES[name]``) and executed through a ``noop``
write, the way ``bench.py`` times its rows.  The shared scratch
artifacts the LLM-data rows read (``queries.all_artifacts()``, in
dependency order) are built first, as timed rows of their own, after
``operators.scratch.clear_scratch``.

A run is:

1. set-up (``setup_s``): interpreter start, ``session.get_session``,
   then one warm-up pass of every row that also checks each result
   against its DuckDB oracle hash, then the schema and dimension
   pre-touch ``bench.py`` does;
2. the timed window: whole passes over the rows, in the seeded order,
   until ``--seconds`` have elapsed and at least ``MIN_PASSES`` ran
   (exactly ``cfg["passes"]`` if set: the traced invocation times one
   pass in each of its two runs).  Scratch artifacts are dropped before
   every pass; cached blocks are dropped and garbage is collected
   before every row.
"""

from __future__ import annotations

import gc
import hashlib
import json
import random
import shutil
import statistics
import time
from pathlib import Path

from oracle import matches
from tracing import EventLog, Spans, percentile

def sample() -> tuple[dict[str, list[str]], list[str]]:
    """``({module: [query]}, [artifact])``: the rows, and the scratch
    artifacts they read in dependency order, from traffic.json.

    One warm pass of the whole 197-row registry takes over a minute on a
    4-core box, while every run starts a fresh Spark JVM, warms each row
    once and times it twice in about a minute.  So the workload is a
    sample of one query per module, chosen by traffic.py from a measured
    profile of the whole registry; traffic.json records the profile and
    the figures of both."""
    doc = json.loads((Path(__file__).resolve().parent / "traffic.json").read_text())
    return doc["sample_rows"], doc["sample_artifacts"]


#: each row's latency is the median of at least this many timed passes
MIN_PASSES = 2
#: the tail percentile of the timed row walls: the highest with at least
#: ten samples beyond it in two passes of the 23 rows (46 samples)
TAIL = 0.75


def rows_for(per_module: int | None = None):
    """``(artifact names in dependency order, [(module, query)])``;
    ``per_module`` keeps only the first rows of each module (self-test)."""
    from pgshovel_spark.queries import all_artifacts

    rows, artifacts = sample()
    arts = [a for a in all_artifacts() if a in artifacts]
    picked = [(m, q) for m, qs in rows.items() for q in qs[:per_module]]
    return arts, picked


def unpersist_all(spark) -> None:
    """Unpersist every cached RDD, as ``bench.py`` does before each row."""
    sc = spark.sparkContext
    it = sc._jsc.getPersistentRDDs().entrySet().iterator()
    ids = []
    while it.hasNext():
        ids.append(it.next().getKey())
    for rid in ids:
        sc._jsc.sc().unpersistRDD(rid, True)


def _scratch_listing(corpus: str) -> tuple[int, int]:
    from pgshovel_spark.operators.scratch import ARTIFACT_ROOT

    slug = hashlib.sha1(corpus.encode()).hexdigest()[:12]
    files = [
        p for d in ARTIFACT_ROOT.glob(f"*{slug}") for p in d.rglob("*") if p.is_file()
    ]
    return len(files), sum(p.stat().st_size for p in files)


def run(cfg: dict) -> dict:
    from pgshovel_spark.operators.scratch import SCRATCH_ROOT, clear_scratch
    from pgshovel_spark.queries import _MODULES, all_artifacts
    from pgshovel_spark.session import get_session
    from pgshovel_spark.sources.tables import dim_catalog, load_tables

    corpus, expected = cfg["corpus"], cfg["expected"]
    spans = Spans()
    with spans.span("session.start"):
        spark = get_session("perfbench")
    sc = spark.sparkContext
    mods = {m.__name__.rsplit(".", 1)[-1]: m for m in _MODULES}
    builds = all_artifacts()
    arts, picked = rows_for(cfg.get("per_module"))
    order = list(picked)
    random.Random(cfg["seed"]).shuffle(order)
    failed: set[str] = set()

    def collect_garbage() -> None:
        """Collect garbage on both sides, so Spark's cleanup of the last
        row's shuffles and broadcasts does not land in the next row."""
        gc.collect()
        sc._jvm.System.gc()

    def reset() -> None:
        clear_scratch(spark, sf_dirs=[corpus])
        unpersist_all(spark)
        collect_garbage()

    def one_pass(n_pass: int) -> list[dict]:
        """Artifacts, then the rows in the seeded order, each query run
        through a ``noop`` write; one record per row that succeeded."""
        if n_pass:
            reset()
        done = []
        for mod, name in [("artifact", a) for a in arts] + order:
            unpersist_all(spark)
            collect_garbage()
            group = f"p{n_pass}|{name}"
            try:
                with spans.span("row", name) as row:
                    sc.setJobGroup(group + "|build", name)
                    with spans.span("build", name) as build:
                        if mod == "artifact":
                            builds[name](spark, corpus)
                        else:
                            df = mods[mod].QUERIES[name](spark, corpus)
                    if mod != "artifact":
                        sc.setJobGroup(group + "|write", name)
                        with spans.span("write", name):
                            df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                failed.add(name)
                print(f"FAIL {name} (pass {n_pass}): {e!r}"[:400], flush=True)
                continue
            done.append({"mod": mod, "name": name, "group": group,
                         "start": row["start"], "end": row["end"], "build": build})
        return done

    # ---- set-up: warm-up pass that also checks every result --------
    with spans.span("session.warmup") as warmup:
        reset()
        for mod, name in [("artifact", a) for a in arts] + order:
            try:
                if mod == "artifact":
                    builds[name](spark, corpus)
                elif not matches(mods[mod].QUERIES[name](spark, corpus).toPandas(),
                                 expected[name]):
                    failed.add(name)
                    print(f"FAIL {name}: result differs from the oracle", flush=True)
            except Exception as e:  # a failed row is counted, not fatal
                failed.add(name)
                print(f"FAIL {name}: {e!r}"[:400], flush=True)
            unpersist_all(spark)
        reset()
        load_tables(spark, corpus)
        dim_catalog(spark, corpus)
    setup_s = time.time() - cfg["spawn"]

    # ---- timed window: whole passes until --seconds elapsed --------
    walls: dict[str, list[float]] = {}
    t_start = time.time()
    n_pass = 0
    while (n_pass < cfg["passes"] if cfg.get("passes")
           else n_pass < MIN_PASSES or time.time() - t_start < cfg["seconds"]):
        done = one_pass(n_pass)
        for r in done:
            walls.setdefault(r["name"], []).append(r["end"] - r["start"])
        if n_pass == 0:
            first_pass = done
            scratch_files, scratch_bytes = _scratch_listing(corpus)
        n_pass += 1
    timed_s = time.time() - t_start

    samples = sorted(w for ws in walls.values() for w in ws)
    out = {
        "attempted": len(arts) + len(order),
        "failed": len(failed),
        "failed_rows": sorted(failed),
        "metrics": {
            "setup_s": setup_s,
            "total_s": sum(statistics.median(ws) for ws in walls.values()),
            "latency_p50_ms": 1000 * percentile(samples, 0.50),
            "latency_tail_ms": 1000 * percentile(samples, TAIL),
        },
        "detail": {
            "rows": len(arts) + len(order), "passes": n_pass, "samples": len(samples),
            "tail_pct": round(100 * TAIL), "timed_s": timed_s,
            "session_start_s": spans.items[0]["end"] - spans.items[0]["start"],
            "warmup_s": warmup["end"] - warmup["start"],
            "row_walls_s": walls,
        },
    }
    app_id = sc.applicationId
    reset()
    spark.stop()
    # reliable checkpoints of this application (operators.scratch.truncate)
    shutil.rmtree(SCRATCH_ROOT / app_id, ignore_errors=True)

    if cfg["trace"]:
        spans.dump(Path(cfg["run_dir"]) / "spans.jsonl")
        out["layers"] = _layers(cfg, spans, first_pass, scratch_files, scratch_bytes)
    return out


def _layers(cfg, spans: Spans, first_pass: list[dict], files: int, nbytes: int) -> dict:
    ev = EventLog(next(Path(cfg["run_dir"], "eventlog").glob("*")))
    groups = {r["group"] + sfx for r in first_pass for sfx in ("|build", "|write")}
    layers = ev.summary(groups, [(r["start"], r["end"]) for r in first_pass])
    by_name = {s["name"]: s for s in spans.items if s["parent"] is None}
    queries = [r for r in first_pass if r["mod"] != "artifact"]
    build_groups = {r["group"] + "|build" for r in queries}
    layers.update({
        "session.start_s": _dur(by_name["session.start"]),
        "session.warmup_s": _dur(by_name["session.warmup"]),
        "queries.build_s": sum(_dur(r["build"]) for r in queries),
        "queries.build_jobs": sum(1 for j in ev.jobs.values() if j["group"] in build_groups),
        "operators.scratch.build_s": sum(
            r["end"] - r["start"] for r in first_pass if r["mod"] == "artifact"
        ),
        "operators.scratch.files": files,
        "operators.scratch.bytes": nbytes,
    })
    for mod in sample()[0]:
        layers[f"queries.{mod}.total_s"] = sum(
            r["end"] - r["start"] for r in queries if r["mod"] == mod
        )
    return layers


def _dur(span: dict) -> float:
    return span["end"] - span["start"]
