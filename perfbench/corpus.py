"""Builds the llm_pipeline corpus with DuckDB, apart from the program.

The corpus is `REPLICAS` content-disjoint copies of the fixture's
`documents` table. Replica r adds r * (max doc_id + 1) to `doc_id` and
appends r to every word, so no text, shingle or word of one replica
occurs in another. The
`documents` schema is kept and `n_chars` is recomputed. The seed decides
only the row order of the written file, so every seed gives the same
rows and the same answers. The other fixture tables are linked, not
copied.
"""
import hashlib
import os

import duckdb

REPLICAS = 3
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def documents_sql(src):
    """The replicated documents table, in a fixed row order."""
    return f"""
      WITH d AS (SELECT * FROM read_parquet('{src}')),
      m AS (SELECT MAX(doc_id) + 1 AS span FROM d),
      r AS (SELECT range AS r FROM range({REPLICAS})),
      t AS (
        SELECT d.doc_id + r.r * m.span AS doc_id,
               regexp_replace(d.text, '(\\S+)', '\\1' || CAST(r.r AS VARCHAR), 'g') AS text,
               d.lang, d.source
        FROM d, m, r)
      SELECT doc_id, text, lang, source, CAST(LENGTH(text) AS BIGINT) AS n_chars
      FROM t"""


def make(fixture_dir, inputs_dir, seed):
    """Write the corpus for `seed` under inputs_dir (once); return its
    directory."""
    src = os.path.join(fixture_dir, "documents.parquet")
    key = hashlib.sha256(documents_sql(src).encode()).hexdigest()[:12]
    out_dir = os.path.join(inputs_dir, f"llm_corpus_{key}_{int(seed)}")
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tmp = os.path.join(out_dir, "documents.parquet.tmp")
    con.execute(f"""COPY (SELECT * FROM ({documents_sql(src)})
                        ORDER BY hash(doc_id + {int(seed)}), doc_id)
                   TO '{tmp}' (FORMAT parquet)""")
    os.replace(tmp, os.path.join(out_dir, "documents.parquet"))
    for t in TABLES:
        link = os.path.join(out_dir, f"{t}.parquet")
        if t != "documents" and not os.path.lexists(link):
            os.symlink(os.path.join(os.path.abspath(fixture_dir), f"{t}.parquet"), link)
    open(done, "w").close()
    return out_dir
