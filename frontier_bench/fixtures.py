"""Seeded inputs for the frontier-engine benchmark and their oracles.

The benchmark owns its inputs: a ``documents`` table is generated here
(the schema of the engine's sf fixtures: small-vocabulary text in five
languages; the row count is set per workload), written as parquet inside
the benchmark's work directory, and turned into the clean pages corpus
by the engine's own ``sources.pages.synth_clean_pages``. The workload seed
picks the seed-URL residue class (``doc_id % SEED_MOD``) and the
replica labels; the documents text is fixed so that every seed does the
same amount of work.

The oracles are independent of the engine: DuckDB runs a recursive CTE
over ``sources.pages.edges_sql()`` for the expected ``(url_norm, depth)``
set, which is replicated per label in Python; the per-superstep counts
follow from its depth levels and the edge list, or, for a budgeted
crawl, from a Python model of per-host scheduling over the edge list.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.predicates import (
    MAX_DEPTH,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
    pages as pagesrc,
)

# the corpus text is part of the fixture, not of the workload seed
_TEXT_SEED = 42
_VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector customer join"
).split()
_LANGS = ("en",) * 8 + ("es", "es", "zh", "zh", "de", "de", "fr", "fr")


def write_documents(path: str, n_docs: int) -> None:
    """Write the ``documents`` parquet: (doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(_TEXT_SEED)
    texts = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(8, 90)))
        for _ in range(n_docs)
    ]
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def seed_residue(seed: int) -> int:
    return seed % pagesrc.SEED_MOD


def replica_labels(seed: int, k: int) -> list[str]:
    """K distinct host labels, a function of the seed."""
    rng = random.Random(seed)
    return [f"r{n}" for n in rng.sample(range(10_000), k)]


def _canonical_url(col: str) -> str:
    """The clean corpus' canonical URL for a doc-id SQL expression."""
    host = (
        f"(CASE WHEN ({col}) % {pagesrc.MEGA_HOST_MOD} = 0 THEN 0 "
        f"ELSE ({col}) % {pagesrc.N_HOSTS} END)"
    )
    return f"('https://host' || {host} || '.example/page/' || ({col}))"


def seeds(spark: SparkSession, residue: int) -> DataFrame:
    """Seed frontier (url, depth 0): every doc with ``doc_id % SEED_MOD ==
    residue``. Reads the ``documents`` view ``synth_clean_pages`` made."""
    return spark.sql(
        f"SELECT {_canonical_url('d.doc_id')} AS url, 0 AS depth "
        f"FROM documents d WHERE d.doc_id % {pagesrc.SEED_MOD} = {residue}"
    )


def replicate(df: DataFrame, url_cols: list[str], labels: list[str]) -> DataFrame:
    """One disjoint copy of the page graph per label: ``.example/``
    becomes ``.<label>.example/`` in urls and html, so every link stays
    inside its copy (the same rewrite as the repo's bench helper)."""
    reps = df.sparkSession.createDataFrame([(lab,) for lab in labels], "rep string")
    sfx = F.concat(F.lit("."), F.col("rep"), F.lit(".example/"))
    out = df.crossJoin(F.broadcast(reps))
    for c in url_cols:
        out = out.withColumn(c, F.replace(F.col(c), F.lit(".example/"), sfx))
    return out.drop("rep")


def _docs_db(docs_path: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    return con


def _host(i: int) -> int:
    return 0 if i % pagesrc.MEGA_HOST_MOD == 0 else i % pagesrc.N_HOSTS


def _url(i: int) -> str:
    return f"https://host{_host(i)}.example/page/{i}"


def oracle_bfs(docs_path: str, residue: int, max_depth: int = MAX_DEPTH) -> dict[int, int]:
    """doc_id -> min depth of the un-replicated clean-corpus BFS, computed
    by DuckDB (recursive CTE over the corpus' link graph)."""
    con = _docs_db(docs_path)
    try:
        rows = con.execute(
            f"""
WITH RECURSIVE
edges AS ({pagesrc.edges_sql()}),
bfs(id, depth) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % {pagesrc.SEED_MOD} = {residue}
  UNION
  SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.id
  WHERE b.depth < {max_depth}
)
SELECT id, min(depth) FROM bfs GROUP BY id
"""
        ).fetchall()
    finally:
        con.close()
    return dict(rows)


def out_links(docs_path: str) -> dict[int, list[int]]:
    """doc_id -> the doc ids its page links to, one entry per href."""
    con = _docs_db(docs_path)
    try:
        edges = con.execute(pagesrc.edges_sql()).fetchall()
    finally:
        con.close()
    links: dict[int, list[int]] = {}
    for src, dst in edges:
        links.setdefault(src, []).append(dst)
    return links


def bfs_steps(
    depths: dict[int, int], links: dict[int, list[int]], max_depth: int
) -> list[tuple[int, int, int]]:
    """(scheduled, links, new urls) of each superstep of the unbudgeted
    crawl whose result is ``depths``: superstep k fetches the depth-k
    pages, extracts every href on them, and discovers depth k + 1 while
    k < max_depth. The crawl stops after the superstep that finds
    nothing new."""
    levels: dict[int, list[int]] = {}
    for i, d in depths.items():
        levels.setdefault(d, []).append(i)
    return [
        (
            len(levels[d]),
            sum(len(links.get(i, ())) for i in levels[d]),
            len(levels.get(d + 1, ())) if d < max_depth else 0,
        )
        for d in range(len(levels))
    ]


def polite_steps(
    docs_path: str, residue: int, max_depth: int, budget_per_host: int
) -> list[tuple[int, int, int]]:
    """(scheduled, links, new urls) of each superstep of the budgeted
    crawl, as the engine defines it: each superstep schedules, per host,
    the first ``budget_per_host`` frontier rows by (depth, url_norm) and
    defers the rest; a scheduled page below ``max_depth`` discovers its
    links at depth + 1, and a url keeps the depth it was first discovered
    at. Straight-line Python over the DuckDB edge list."""
    links = out_links(docs_path)
    # every page links somewhere, so the keys are all doc ids
    seen = {i: 0 for i in links if i % pagesrc.SEED_MOD == residue}
    frontier = dict(seen)
    steps = []
    while frontier:
        by_host: dict[int, list] = {}
        for i, d in frontier.items():
            by_host.setdefault(_host(i), []).append((d, _url(i), i))
        scheduled, deferred = [], {}
        for rows in by_host.values():
            rows.sort()
            scheduled += [(i, d) for d, _, i in rows[:budget_per_host]]
            deferred.update((i, d) for d, _, i in rows[budget_per_host:])
        found: dict[int, int] = {}
        for i, d in scheduled:
            if d < max_depth:
                for j in links.get(i, ()):
                    found[j] = min(found.get(j, d + 1), d + 1)
        new = {j: d for j, d in found.items() if j not in seen}
        seen.update(new)
        frontier = {**deferred, **new}
        steps.append(
            (len(scheduled), sum(len(links.get(i, ())) for i, _ in scheduled), len(new))
        )
    return steps


def replicate_oracle(depths: dict[int, int], labels: list[str]) -> set[tuple[str, int]]:
    """The expected (url_norm, depth) set over all replicas."""
    out = set()
    for lab in labels:
        sfx = f".{lab}.example/"
        out.update((_url(i).replace(".example/", sfx), d) for i, d in depths.items())
    return out


def replicate_steps(
    steps: list[tuple[int, int, int]], labels: list[str]
) -> list[tuple[int, int, int]]:
    """Per-superstep counts over all replicas (the copies crawl in lockstep)."""
    return [tuple(len(labels) * n for n in s) for s in steps]
