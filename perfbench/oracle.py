"""DuckDB oracle hashes for the benchmark corpus, and the result hash
both engines are compared by.

The oracle side runs the registry's ANSI SQL oracles on DuckDB over the
same parquet files; it shares no execution code with the Spark engine.
Hashes are computed once per (corpus, oracle text) and cached as JSON
next to the corpus, so every later run only hashes the Spark side.

A result hash is ``tools/selfcheck.canonical`` of the result, the
compare the repository's oracle gate uses: ``[rows, sorted column
names, digest]``, floats kept exact.  A query with no oracle is checked
for a non-empty result only (its expected entry is ``None``).

    python3 perfbench/oracle.py CORPUS_DIR [query ...]
"""

from __future__ import annotations

import hashlib
import inspect
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from corpus import TABLES  # noqa: E402
from tools.selfcheck import canonical, norm_cell  # noqa: E402


def result_hash(pdf) -> list:
    """``[rows, sorted column names, digest]`` of a pandas frame."""
    return list(canonical(pdf))


def matches(pdf, want) -> bool:
    return len(pdf) > 0 if want is None else result_hash(pdf) == want


def _connect(corpus: Path):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus / t}.parquet')"
        )
    return con


def expected(corpus: Path, names: list[str], oracles: dict[str, str]) -> dict:
    """``{name: [rows, columns, digest]}`` of every name's oracle (``None``
    for a query without one), cached in ``corpus/oracle-<digest>.json``."""
    spec = {n: oracles.get(n) for n in names}
    key = json.dumps(spec, sort_keys=True) + inspect.getsource(canonical) \
        + inspect.getsource(norm_cell)
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    cache = corpus / f"oracle-{digest}.json"
    if cache.exists():
        return json.loads(cache.read_text())
    con = _connect(corpus)
    out = {n: sql and result_hash(con.sql(sql).df()) for n, sql in spec.items()}
    con.close()
    tmp = cache.with_suffix(".tmp")
    tmp.write_text(json.dumps(out, sort_keys=True))
    tmp.replace(cache)
    return out


def main() -> None:
    corpus = Path(sys.argv[1])
    from pgshovel_spark.queries import all_oracles, all_queries

    names = sys.argv[2:] or list(all_queries())
    for n, v in expected(corpus, names, all_oracles()).items():
        print(n, json.dumps(v))


if __name__ == "__main__":
    main()
