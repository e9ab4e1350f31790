"""Traffic profile of the whole query registry, and the sample of it
that the ``registry`` workload runs.

    python3 perfbench/traffic.py        # rewrites perfbench/traffic.json

One process runs every artifact build (``queries.all_artifacts()``) and
every registry query on the benchmark corpus twice, the way
``registry.py`` runs its rows: artifacts first after ``clear_scratch``,
then each query through a ``noop`` write, with job groups for each
row's builder call and write.  The first pass warms the JVM; the second
is profiled from Spark's event log.  For each row it records the wall,
the Spark jobs (and how many the builder launched eagerly) and stages,
whether a stage runs Python (pandas/Arrow UDF plan nodes or a Python
RDD), whether a stage writes shuffle, and which scratch artifacts its
plans scan (by the directories each artifact build created).

The sample is one query per module, chosen by coordinate descent so
that its jobs per row, share of rows with eager builder jobs,
Python-stage share, shuffle share, scratch-reader share, wall per row
and share of the wall spent building artifacts come as close as they
can to the whole registry's; it starts from each module's median-wall
row.  The sample builds the artifacts its rows read, and the ones those
read.  ``traffic.json`` holds the per-row profile, both sets of figures
and the sample; ``registry.py`` reads its rows from there.
``--reselect`` chooses the sample again from the profile already in
``traffic.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import re
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
OUT = HERE / "traffic.json"

_PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")
_ARTIFACT_DIR = re.compile(r"artifacts/([A-Za-z0-9_.-]+)")
#: the figures the sample is matched on, each mapped to whether it is
#: compared as a ratio to the registry's (True) or as a difference
FEATURES = {"jobs_per_row": True, "eager_share": False, "python_share": False,
            "shuffle_share": False, "scratch_share": False, "wall_per_row_s": True,
            "artifact_wall_share": False}


# ---- the profiled run (in the worker process) -------------------------

def run(cfg: dict) -> dict:
    from registry import unpersist_all
    from tracing import EventLog

    from pgshovel_spark.operators.scratch import ARTIFACT_ROOT, SCRATCH_ROOT, clear_scratch
    from pgshovel_spark.queries import _MODULES, all_artifacts
    from pgshovel_spark.session import get_session

    corpus = cfg["corpus"]
    spark = get_session("perfbench-traffic")
    sc = spark.sparkContext
    builds = all_artifacts()
    plan = [("artifact", a) for a in builds] + [
        (m.__name__.rsplit(".", 1)[-1], q) for m in _MODULES for q in m.QUERIES
    ]
    queries = {q: fn for m in _MODULES for q, fn in m.QUERIES.items()}
    walls: dict[str, float] = {}
    failed: set[str] = set()
    owner: dict[str, str] = {}  # artifact dir -> the artifact whose build made it

    def listing() -> set[str]:
        return {d.name for d in ARTIFACT_ROOT.iterdir()} if ARTIFACT_ROOT.is_dir() else set()
    for p in (0, 1):
        clear_scratch(spark, sf_dirs=[corpus])
        for mod, name in plan:
            unpersist_all(spark)
            gc.collect()
            sc._jvm.System.gc()
            sc.setJobGroup(f"p{p}|{name}|build", name)
            t0 = time.time()
            try:
                if mod == "artifact":
                    before = listing()
                    builds[name](spark, corpus)
                    owner.update({d: name for d in listing() - before})
                else:
                    df = queries[name](spark, corpus)
                    sc.setJobGroup(f"p{p}|{name}|write", name)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed row is recorded, not fatal
                failed.add(name)
                print(f"FAIL {name}: {e!r}"[:400], flush=True)
            walls[name] = time.time() - t0
    app_id = sc.applicationId
    clear_scratch(spark, sf_dirs=[corpus])
    spark.stop()
    shutil.rmtree(SCRATCH_ROOT / app_id, ignore_errors=True)

    ev = EventLog(next(Path(cfg["run_dir"], "eventlog").glob("*")))
    stage_shuffle: dict[int, int] = {}
    for t in ev.tasks:
        stage_shuffle[t["stage"]] = stage_shuffle.get(t["stage"], 0) + t["shuffle_write"]
    by_group: dict[str, list[int]] = {}
    for jid, job in ev.jobs.items():
        by_group.setdefault(job["group"], []).append(jid)

    rows = []
    for mod, name in plan:
        build_jids = by_group.get(f"p1|{name}|build", [])
        jids = build_jids + by_group.get(f"p1|{name}|write", [])
        stages = {s for j in jids for s in ev.jobs[j]["stages"] if s in ev.stages}
        plans = "\n".join(ev.sql_plan.get(ev.jobs[j]["exec"], "") for j in jids)
        rows.append({
            "module": mod, "name": name, "wall_s": walls[name], "jobs": len(jids),
            "build_jobs": len(build_jids),
            "stages": len(stages), "failed": name in failed,
            "python": bool(_PYTHON_NODE.search(plans)) or any(
                "PythonRDD" in r for s in stages for r in ev.stage_rdds[s]),
            "shuffle": any(stage_shuffle.get(s, 0) > 0 for s in stages),
            "scratch_reads": sorted(
                {owner[d] for d in _ARTIFACT_DIR.findall(plans) if d in owner} - {name}),
        })
    return {"attempted": len(plan), "failed": len(failed), "detail": {}, "rows": rows}


# ---- sample selection (in the calling process) -------------------------

def figures(queries: list[dict], arts: list[dict]) -> dict:
    """Per-query figures of ``queries`` and the artifact builds ``arts``."""
    n, art_s = len(queries), sum(a["wall_s"] for a in arts)
    return {
        "rows": n,
        "jobs_per_row": sum(r["jobs"] for r in queries) / n,
        "eager_share": sum(r["build_jobs"] > 0 for r in queries) / n,
        "python_share": sum(r["python"] for r in queries) / n,
        "shuffle_share": sum(r["shuffle"] for r in queries) / n,
        "scratch_share": sum(bool(r["scratch_reads"]) for r in queries) / n,
        "wall_per_row_s": sum(r["wall_s"] for r in queries) / n,
        "artifact_wall_share": art_s / (art_s + sum(r["wall_s"] for r in queries)),
    }


def closure(queries: list[dict], rows: list[dict]) -> list[dict]:
    """The artifact rows ``queries`` read, and the ones those read, in
    build order."""
    reads = {r["name"]: r["scratch_reads"] for r in rows}
    names, todo = set(), [a for r in queries for a in r["scratch_reads"]]
    while todo:
        a = todo.pop()
        if a not in names:
            names.add(a)
            todo.extend(reads[a])
    return [r for r in rows if r["module"] == "artifact" and r["name"] in names]


def choose(rows: list[dict]) -> list[dict]:
    """One query row per module: the sample."""
    queries = [r for r in rows if r["module"] != "artifact" and not r["failed"]]
    target = figures(queries, [r for r in rows if r["module"] == "artifact"])

    def distance(pick: dict) -> float:
        got = figures(list(pick.values()), closure(list(pick.values()), rows))
        return sum(((got[k] / target[k] - 1.0) if rel else (got[k] - target[k])) ** 2
                   for k, rel in FEATURES.items())

    by_mod: dict[str, list[dict]] = {}
    for r in queries:
        by_mod.setdefault(r["module"], []).append(r)
    pick = {}
    for mod, cands in by_mod.items():
        med = statistics.median(r["wall_s"] for r in cands)
        pick[mod] = min(cands, key=lambda r: abs(r["wall_s"] - med))
    best = distance(pick)
    changed = True
    while changed:
        changed = False
        for mod, cands in by_mod.items():
            for r in cands:
                trial = dict(pick, **{mod: r})
                d = distance(trial)
                if d < best - 1e-12:
                    pick, best, changed = trial, d, True
    return list(pick.values())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reselect", action="store_true",
                    help="choose the sample again from the profile in traffic.json")
    reselect = ap.parse_args().reselect
    sys.path[:0] = [str(HERE), str(HERE.parent)]
    import run as bench

    if reselect:
        doc = json.loads(OUT.read_text())
    else:
        build = bench.build_dir()
        corpus = bench.ensure_corpus(build, bench.CORPUS_SF)
        args = argparse.Namespace(workload="traffic", seed=0, seconds=0)
        out = bench.run_worker(args, build, corpus, {}, True, {}, time.time() + 1800)
        doc = {"corpus": corpus.name, "cpus": bench._cpus(), "rows": out["rows"]}
    rows = doc["rows"]
    pick = choose(rows)
    arts = closure(pick, rows)
    doc.update({
        "registry": figures([r for r in rows if r["module"] != "artifact" and not r["failed"]],
                            [r for r in rows if r["module"] == "artifact"]),
        "sample": figures(pick, arts),
        "sample_rows": {r["module"]: [r["name"]] for r in pick},
        "sample_artifacts": [a["name"] for a in arts],
        "failed": sorted(r["name"] for r in rows if r["failed"]),
    })
    doc["rows"] = doc.pop("rows")  # keep the long list last
    OUT.write_text(json.dumps(doc, indent=1) + "\n")
    print(json.dumps({k: doc[k] for k in ("registry", "sample", "sample_artifacts", "failed")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
