"""DuckDB answers the program's results are checked against.

Answers are cached under the build directory, keyed by the SQL text and
the identity (path, size, mtime) of the files the SQL reads.
"""
import hashlib
import json
import os
import pickle

import duckdb

import corpus


def _stamp(paths):
    out = []
    for p in paths:
        st = os.stat(p)
        out.append((os.path.realpath(p), st.st_size, int(st.st_mtime)))
    return out


def _views(fixture_dir, llm):
    views = {t: f"SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
             for t in corpus.TABLES}
    if llm:
        # the corpus, computed from the fixture by its own definition
        views["documents"] = corpus.documents_sql(os.path.join(fixture_dir, "documents.parquet"))
    return views


def answers(fixture_dir, sqls, cache_dir, llm=False):
    """name -> DataFrame of DuckDB's answer for each SQL text; with `llm`,
    `documents` is the llm_pipeline corpus made from the fixture."""
    os.makedirs(cache_dir, exist_ok=True)
    views = _views(fixture_dir, llm)
    stamp = json.dumps([_stamp([f"{fixture_dir}/{t}.parquet" for t in corpus.TABLES]), views])
    out, con = {}, None
    for name, sql in sqls.items():
        key = hashlib.sha256((stamp + sql).encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 2")
                for t, v in views.items():
                    con.execute(f"CREATE VIEW {t} AS {v}")
            df = con.sql(sql).df()
            with open(path + ".tmp", "wb") as f:
                pickle.dump(df, f)
            os.replace(path + ".tmp", path)
        with open(path, "rb") as f:
            out[name] = pickle.load(f)
    return out


def exact_cosines(fixture_dir, query_id):
    """vec_id -> exact cosine against `query_id`, every other vector."""
    con = duckdb.connect()
    rows = con.sql(f"""
      WITH e AS (SELECT vec_id, embedding FROM read_parquet('{fixture_dir}/embeddings.parquet')),
      q AS (SELECT embedding AS qv FROM e WHERE vec_id = {int(query_id)})
      SELECT vec_id,
        LIST_SUM(LIST_TRANSFORM(LIST_ZIP(embedding, qv),
          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        / (SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * SQRT(LIST_SUM(LIST_TRANSFORM(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      FROM e, q WHERE vec_id <> {int(query_id)}""").fetchall()
    return {int(v): s for v, s in rows}


def check_probe(result, cosines, k, exact):
    """Checks one top-k probe result (vec_id, cos_sim, in returned order).

    Every score must equal DuckDB's exact cosine, ids must be distinct,
    rows ordered by score descending then id, and when `exact` the ids
    must be the exact top k. Returns (problem or None, recall at k).
    """
    ids = [int(v) for v in result["vec_id"]]
    sims = [float(s) for s in result["cos_sim"]]
    truth = sorted(cosines.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    recall = len(set(ids) & {v for v, _ in truth}) / float(k)
    if len(ids) != k:
        return f"{len(ids)} rows, expected {k}", recall
    if len(set(ids)) != len(ids):
        return "duplicate ids", recall
    for v, s in zip(ids, sims):
        if v not in cosines or cosines[v] != s:
            return f"vec_id {v}: score {s!r}, exact {cosines.get(v)!r}", recall
    keys = [(-s, v) for v, s in zip(ids, sims)]
    if keys != sorted(keys):
        return "rows not ordered by score", recall
    if exact and ids != [v for v, _ in truth]:
        return f"not the exact top {k}: {ids} vs {[v for v, _ in truth]}", recall
    return None, recall
