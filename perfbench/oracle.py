"""Expected answers, computed at set-up independently of the engine.

DuckDB reads the same generated parquet the engine reads and recomputes the
batch ranking's head, TF-IDF and BM25 term search, per-document keywords
and the top-100; numpy recomputes exact kNN. The formulas restate the
engine's documented scoring (natural-log idf, scores rounded to 9 places,
per-document sums taken in DECIMAL) but share no code with it. More-like-this
and the IVF probe have no independent answer here; the harness checks only
that they answer.

The serve requests' parameters are drawn here too, from the seed: query
terms among mid-frequency terms, documents and vectors uniformly.
"""

import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

SEARCH_K = 20
TOP_BATCH = 100


def _con(tmp):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _counts(con, docs):
    con.execute(f"""
        CREATE TEMP TABLE tc AS
        SELECT term, doc_id, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM read_parquet('{docs}'))
        WHERE term <> '' GROUP BY term, doc_id""")
    con.execute("CREATE TEMP TABLE dt AS SELECT doc_id, sum(cnt) AS doc_total FROM tc GROUP BY doc_id")
    con.execute("CREATE TEMP TABLE dfq AS SELECT term, count(*) AS df FROM tc GROUP BY term")
    n = con.execute(f"SELECT count(*) FROM read_parquet('{docs}')").fetchone()[0]
    con.execute(f"""
        CREATE TEMP TABLE sc AS
        SELECT tc.term, tc.doc_id, tc.cnt, dt.doc_total, dfq.df,
               tc.cnt::DOUBLE / dt.doc_total * ln({n}::DOUBLE / dfq.df) AS tfidf
        FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term)""")
    return n


def _batch(con):
    rows = con.execute("SELECT count(*) FROM sc").fetchone()[0]
    # Main's path casts doc_id to string, so ties order by the string id
    top = con.execute(f"""
        SELECT term || '|' || doc_id::VARCHAR, tfidf FROM sc
        ORDER BY tfidf DESC, term, doc_id::VARCHAR LIMIT {TOP_BATCH}""").fetchall()
    return {"rows": rows, "top": [[k, v] for k, v in top]}


def _search(con, terms, score_sql):
    lst = ", ".join("'" + t + "'" for t in terms)
    return [[str(d), s] for d, s in con.execute(f"""
        SELECT doc_id, round(sum(({score_sql})::DECIMAL(28,14))::DOUBLE, 9) AS score
        FROM sc WHERE term IN ({lst}) GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {SEARCH_K}""").fetchall()]


def _bm25_sql(con, n):
    total = con.execute("SELECT sum(doc_total) FROM dt").fetchone()[0]
    avgdl = float(total) / max(1, n)
    idf = f"round(ln(({n}::DOUBLE - df + 0.5) / (df + 0.5) + 1.0), 9)"
    return (f"round({idf} * (cnt * (1.2 + 1.0)) / "
            f"(cnt + 1.2 * (1.0 - 0.75 + 0.75 * doc_total / {avgdl!r})), 9)")


def _knn(emb, q, k=10):
    vecs = emb.astype(np.float64)
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    cos = np.round(vecs @ vecs[q] / (norms[q] * norms), 6)
    order = sorted((i for i in range(len(vecs)) if i != q), key=lambda i: (-cos[i], i))[:k]
    return [[str(i), float(cos[i])] for i in order]


def expected(data_dir, seed, tmp):
    """Expected answers and the request pool for the inputs in `data_dir`;
    DuckDB spills, if ever, under `tmp`."""
    with open(os.path.join(data_dir, "truth.json")) as f:
        truth = json.load(f)
    docs = os.path.join(data_dir, "documents.parquet")
    con = _con(tmp)
    n = _counts(con, docs)
    rng = np.random.default_rng([seed, 7])

    mid = [t for (t,) in con.execute(
        "SELECT term FROM dfq WHERE df BETWEEN 20 AND 200 ORDER BY term").fetchall()]
    long_docs = [d for (d,) in con.execute(
        "SELECT doc_id FROM dt WHERE doc_total >= 40 ORDER BY doc_id").fetchall()]
    emb_t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    emb = np.array(emb_t.column("embedding").to_pylist(), dtype=np.float32)

    terms = [str(t) for t in rng.choice(mid, 6, replace=False)]
    q_knn, q_ivf = (int(q) for q in rng.integers(len(emb), size=2))
    d_mlt, d_kw = (int(d) for d in rng.choice(long_docs, 2))
    kw = con.execute(f"""
        SELECT term, round(tfidf, 9) AS r FROM sc WHERE doc_id = {d_kw}
        ORDER BY r DESC, term LIMIT 5""").fetchall()
    top = con.execute("""
        SELECT term || '|' || doc_id::VARCHAR, round(tfidf, 9) AS r FROM sc
        ORDER BY r DESC, term, doc_id LIMIT 100""").fetchall()
    serve = {
        "search": {"terms": terms[:3], "expect": _search(con, terms[:3], "round(tfidf, 9)")},
        "bm25": {"terms": terms[3:], "expect": _search(con, terms[3:], _bm25_sql(con, n))},
        "mlt": {"doc": d_mlt},
        "knn": {"q": q_knn, "expect": _knn(emb, q_knn)},
        "ivf": {"q": q_ivf},
        "keywords": {"doc": d_kw, "expect": [[t, v] for t, v in kw]},
        "top100": {"expect": [[k, v] for k, v in top]},
    }
    return {
        "batch": _batch(con),
        "serve": serve,
        "curate": {"distinct_texts": truth["summary"]["distinct_texts"],
                   "batches": truth["batches"]},
    }
