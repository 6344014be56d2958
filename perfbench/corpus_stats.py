#!/usr/bin/env python3
"""Statistics of a corpus directory, side by side for several corpora.

    python3 perfbench/corpus_stats.py <dir> [<dir> ...]

A corpus directory holds `<table>.parquet` for the star tables plus
`events`, `documents` and `embeddings`, either as one parquet file or
as a directory of parts (as the benchmark's generator writes them).
The statistics are the ones the benchmark's generator (`Gen.scala`) is
set from, so its output can be compared with the engine's test tables:
row counts, the shape of the report events, the document corpus's
vocabulary, lengths and near-duplicate structure, the embedding
clusters, and the value ranges of every star column. Prints a markdown
table, one column per directory.
"""
import os
import sys

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Prefix of a document compared by the edit-distance dedup queries.
EDIT_KEY_LEN = 24

STATS = [
    ("events: rows per user", "SELECT count(*) / count(DISTINCT user_id) FROM events"),
    ("events: share of each event_type", """
        SELECT string_agg(event_type || ' ' || round(n / t, 3), ', ' ORDER BY event_type)
        FROM (SELECT event_type, count(*) AS n, sum(count(*)) OVER () AS t
              FROM events GROUP BY 1)"""),
    ("events: ts span (days)",
     "SELECT round(epoch(max(ts) - min(ts)) / 86400, 2) FROM events"),
    ("events: ts rises with event_id (share of steps)", """
        SELECT round(avg(CASE WHEN ts >= prev THEN 1 ELSE 0 END), 3) FROM
          (SELECT ts, lag(ts) OVER (ORDER BY event_id) AS prev FROM events)
        WHERE prev IS NOT NULL"""),
    ("events: value mean / median / p90 / max", """
        SELECT round(avg(value), 2) || ' / ' || round(median(value), 2) || ' / '
          || round(quantile_cont(value, 0.9), 2) || ' / ' || max(value) FROM events"""),
    ("events: distinct props", "SELECT count(DISTINCT props) FROM events"),
    ("documents: vocabulary",
     "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)"),
    ("documents: words per doc min / median / mean / max", """
        SELECT min(n) || ' / ' || median(n) || ' / ' || round(avg(n), 1) || ' / ' || max(n)
        FROM (SELECT len(string_split(text, ' ')) AS n FROM documents)"""),
    ("documents: docs ending in a marker word (near-dups)", """
        SELECT count(*) FILTER (WHERE text LIKE '% dup') FROM documents"""),
    ("documents: pairs within edit 1 on the 24-char key", f"""
        WITH k AS (SELECT doc_id, substr(lower(trim(text)), 1, {EDIT_KEY_LEN}) AS k
                   FROM documents)
        SELECT count(*) FROM k a JOIN k b ON a.doc_id < b.doc_id
          AND substr(a.k, 1, 3) = substr(b.k, 1, 3)
        WHERE levenshtein(a.k, b.k) <= 1"""),
    ("documents: exact duplicate docs",
     "SELECT count(*) - count(DISTINCT text) FROM documents"),
    ("documents: share of each lang", """
        SELECT string_agg(lang || ' ' || round(n / t, 3), ', ' ORDER BY lang)
        FROM (SELECT lang, count(*) AS n, sum(count(*)) OVER () AS t
              FROM documents GROUP BY 1)"""),
    ("documents: distinct sources", "SELECT count(DISTINCT source) FROM documents"),
    ("embeddings: dims / labels / min and max label size", """
        SELECT max(len(embedding)) || ' / ' || count(DISTINCT label) || ' / '
          || min(n) || '-' || max(n)
        FROM embeddings JOIN (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
          USING (label)"""),
    ("embeddings: mean cosine to own label centre / to other centres", """
        WITH e AS (SELECT vec_id, label, unnest(embedding) AS x,
                          unnest(range(len(embedding))) AS d FROM embeddings),
        c AS (SELECT label, d, avg(x) AS x FROM e GROUP BY 1, 2),
        cn AS (SELECT label, sqrt(sum(x * x)) AS n FROM c GROUP BY 1),
        cos AS (SELECT e.vec_id, e.label AS own, c.label AS other,
                       sum(e.x * c.x) / any_value(cn.n) AS v
                FROM e JOIN c USING (d) JOIN cn ON cn.label = c.label
                GROUP BY 1, 2, 3)
        SELECT round(avg(v) FILTER (WHERE own = other), 3) || ' / '
          || round(avg(v) FILTER (WHERE own <> other), 3) FROM cos"""),
]


def source(path):
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def column_stats(con, table):
    """Distinct count and range of each column of a star table."""
    out = []
    cols = con.execute(f"DESCRIBE {table}").fetchall()
    for name, typ, *_ in cols:
        if typ.endswith("[]"):
            continue
        lo, hi, nd = con.execute(
            f"SELECT min({name}), max({name}), count(DISTINCT {name}) FROM {table}"
        ).fetchone()
        if isinstance(lo, float):
            lo, hi = round(lo, 2), round(hi, 2)
        lo, hi = str(lo)[:24], str(hi)[:24]
        out.append((f"{table}.{name}: distinct, min..max", f"{nd}, {lo}..{hi}"))
    return out


def stats(d):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{source(os.path.join(d, t + '.parquet'))}')")
    rows = [(f"{t}: rows", con.execute(f"SELECT count(*) FROM {t}").fetchone()[0])
            for t in TABLES]
    rows += [(name, con.execute(sql).fetchone()[0]) for name, sql in STATS]
    for t in ("customer", "supplier", "part", "orders", "lineitem"):
        rows += column_stats(con, t)
    return rows


def main():
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__)
    cols = [stats(d) for d in dirs]
    print("| statistic | " + " | ".join(f"`{d}`" for d in dirs) + " |")
    print("| --- |" + " --- |" * len(dirs))
    for i, (name, _) in enumerate(cols[0]):
        print(f"| {name} | " + " | ".join(str(c[i][1]) for c in cols) + " |")


if __name__ == "__main__":
    main()
