"""Seeded table inputs of the `text_dedup` workload, and the DuckDB
oracle answers it is checked against.

The same seed gives byte-identical parquet files: rows are produced by
numpy's PCG64 stream and written by DuckDB in one thread, in a fixed
order.
"""
import json
import math
import re
from pathlib import Path

import duckdb
import numpy as np

# The vocabulary of the sf0.1 `documents` table, minus its planted marker
# word "dup".
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es", "it", "pt", "ja", "ko", "ru"]

# text_dedup sizes. Words per document are few next to the 30-word
# vocabulary, so two unrelated documents are far apart on every
# similarity the gates use, and the planted share alone sets how many
# candidate pairs survive.
N_DOCS = 1500
N_EMBED = 1000
DIM = 64
WORDS = (8, 28)
DUP_SHARE = 0.10


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _near_dup(rng, words):
    """A copy of `words` with a few substitutions, one insertion or
    deletion: word-set Jaccard with the source lands in about 0.7-0.95."""
    out = list(words)
    for _ in range(int(rng.integers(1, 3))):
        out[int(rng.integers(len(out)))] = VOCAB[int(rng.integers(len(VOCAB)))]
    if rng.random() < 0.5:
        out.insert(int(rng.integers(len(out) + 1)), VOCAB[int(rng.integers(len(VOCAB)))])
    elif len(out) > WORDS[0]:
        del out[int(rng.integers(len(out)))]
    return out


def gen_text(out: Path, seed: int) -> dict:
    """documents.parquet and embeddings.parquet in the layout the d- and
    e-gates read. Every 1/DUP_SHARE-th document (and embedding) is a
    planted near-duplicate of a random earlier one, so every seed plants
    the same number."""
    rng = np.random.default_rng([seed, 1])
    out.mkdir(parents=True, exist_ok=True)
    docs, planted = [], 0
    period = round(1 / DUP_SHARE)
    for i in range(N_DOCS):
        if i % period == period - 1:
            src = int(rng.integers(i))
            words, lang = _near_dup(rng, docs[src][1]), docs[src][2]
            planted += 1
        else:
            n = int(rng.integers(WORDS[0], WORDS[1] + 1))
            words = [VOCAB[int(k)] for k in rng.integers(len(VOCAB), size=n)]
            lang = LANGS[int(rng.integers(len(LANGS)))]
        docs.append((i, words, lang, f"src{i % 20}"))
    vecs = rng.normal(0.0, 0.12, size=(N_EMBED, DIM)).astype(np.float32)
    emb_planted = 0
    for i in range(1, N_EMBED):
        if i % period == period - 1:
            vecs[i] = vecs[int(rng.integers(i))] + rng.normal(0.0, 0.01, DIM).astype(np.float32)
            emb_planted += 1
    labels = rng.integers(10, size=N_EMBED)
    con = _con()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                "source VARCHAR, n_chars BIGINT)")
    texts = [" ".join(w) for _, w, _, _ in docs]
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
                    [(i, t, lang, src, len(t)) for (i, _, lang, src), t in zip(docs, texts)])
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)",
                    [(i, [float(x) for x in vecs[i]], int(labels[i])) for i in range(N_EMBED)])
    for t in ("documents", "embeddings"):
        con.execute(f"COPY (SELECT * FROM {t} ORDER BY 1) TO '{out / (t + '.parquet')}' "
                    "(FORMAT PARQUET, ROW_GROUP_SIZE 100000)")
    return {"documents": N_DOCS, "embeddings": N_EMBED, "planted_docs": planted,
            "planted_embeddings": emb_planted, "dup_share": DUP_SHARE}


def _cell(v):
    """JSON has no NaN or infinities: they travel as strings."""
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return v


def materialized(sql: str) -> str:
    """`sql` with every CTE marked MATERIALIZED. DuckDB 1.0 inlines a CTE
    at each reference, so a pair join referenced inside a recursive
    reachability CTE is recomputed on every iteration (minutes at a few
    thousand documents); materializing changes the evaluation, not the
    answer."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def oracle(text_dir: Path, sql_file: Path) -> dict:
    """Each gate's oracle SQL run by DuckDB over the generated tables:
    {gate: {"columns": [...], "rows": [[...], ...]}} in the SQL's order."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{text_dir / (t + '.parquet')}')")
    answers = {}
    for gate, sql in json.loads(sql_file.read_text()).items():
        cur = con.execute(materialized(sql))
        cols = [d[0] for d in cur.description]
        answers[gate] = {"columns": cols, "rows": [[_cell(v) for v in r] for r in cur.fetchall()]}
    return answers
