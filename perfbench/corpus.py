"""Seeded document corpus for the `curation_store` workload, in the schema
of the engine's `documents` table (doc_id, text, lang, source, n_chars).

The settings copy the shape of the repository's generated `documents`
tables (sf0.001, sf0.01 and sf0.1 measured alike; see README.md):

- 30 words, drawn uniformly, so every word is in about three quarters of
  the documents;
- 10 to 100 words per document, uniformly;
- 5 % near-duplicates: the text of another document with ` dup` appended;
- languages `en` 40 % and `de`, `fr`, `es`, `zh` 15 % each;
- source `src<i mod 20>`.

    python3 perfbench/corpus.py <documents.parquet>   # figures of a table
    python3 perfbench/corpus.py --seed <n>            # figures of this corpus
"""
import argparse
import os
import random
import tempfile

import duckdb

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DUP_MARK = "dup"
LANGS = (("en", 0.4), ("de", 0.15), ("fr", 0.15), ("es", 0.15), ("zh", 0.15))
# the row count of the sf0.001 and sf0.01 tables; sf0.1 has 5 000
DOCUMENTS = 500
MIN_WORDS, MAX_WORDS = 10, 100
NEAR_SHARE = 0.05
# q124's threshold, in percent
JACCARD_T100 = 90


def documents(seed, n=DOCUMENTS):
    rnd = random.Random(seed)
    near = set(rnd.sample(range(1, n), round(n * NEAR_SHARE)))
    texts = []
    for i in range(n):
        if i in near:
            texts.append(texts[rnd.randrange(i)] + [DUP_MARK])
        else:
            texts.append(rnd.choices(VOCAB, k=rnd.randint(MIN_WORDS, MAX_WORDS)))
    rows = []
    for i, t in enumerate(texts):
        s = " ".join(t)
        lang = rnd.choices([l for l, _ in LANGS], weights=[w for _, w in LANGS])[0]
        rows.append((i, s, lang, f"src{i % 20}", len(s)))
    return rows


def write(seed, path):
    """Write the corpus to `path` as parquet; returns the row count."""
    rows = documents(seed)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                "source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY documents TO '{path}' (FORMAT PARQUET)")
    con.close()
    return len(rows)


def stats(path):
    """The figures that shape q124's work on a documents table: distinct
    tokens, tokens per document, the document frequency of the prefix
    tokens that `Dedup.allPairsJaccard` joins on, and its candidate and
    result pairs as shares of all pairs."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    con.execute("""CREATE TABLE s AS SELECT doc_id, unnest(ts) AS tok, len(ts) AS n FROM (
        SELECT doc_id, list_distinct(list_filter(
          string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS ts
        FROM documents) WHERE len(ts) > 0""")
    con.execute("CREATE TABLE df AS SELECT tok, count(*) AS df FROM s GROUP BY tok")
    con.execute(f"""CREATE TABLE prefix AS SELECT * FROM (
        SELECT s.doc_id, s.n, s.tok, df.df,
               row_number() OVER (PARTITION BY s.doc_id ORDER BY df.df, s.tok) AS r
        FROM s JOIN df USING (tok))
        WHERE r <= n - (({JACCARD_T100} * n + 99) // 100) + 1""")
    docs, words_med, words_max, exact = con.execute(
        "SELECT count(*), median(len(string_split(text, ' '))), "
        "max(len(string_split(text, ' '))), count(*) - count(DISTINCT text) FROM documents"
    ).fetchone()
    distinct_med = con.execute("SELECT median(n) FROM (SELECT DISTINCT doc_id, n FROM s)").fetchone()[0]
    vocab = con.execute("SELECT count(*) FROM df").fetchone()[0]
    prefix_df = con.execute("SELECT median(df), min(df) FROM prefix").fetchone()
    cand = con.execute(f"""SELECT count(*) FROM (SELECT DISTINCT a.doc_id, b.doc_id
        FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
        WHERE a.n * 100 >= {JACCARD_T100} * b.n AND b.n * 100 >= {JACCARD_T100} * a.n)"""
                       ).fetchone()[0]
    result = con.execute(f"""SELECT count(*) FROM (
        SELECT a.doc_id, b.doc_id, count(*) AS c, any_value(a.n) AS na, any_value(b.n) AS nb
        FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2)
        WHERE c * 100 >= {JACCARD_T100} * (na + nb - c)""").fetchone()[0]
    near = con.execute(f"SELECT count(*) FROM documents WHERE text LIKE '% {DUP_MARK}'").fetchone()[0]
    con.close()
    pairs = docs * (docs - 1) / 2
    return {
        "documents": docs, "distinct_tokens": vocab,
        "words_per_doc_median": words_med, "words_per_doc_max": words_max,
        "distinct_tokens_per_doc_median": distinct_med,
        "prefix_token_df_median_share": prefix_df[0] / docs,
        "prefix_token_df_min_share": prefix_df[1] / docs,
        "near_duplicate_share": near / docs, "exact_repeats": exact,
        "q124_candidate_pair_share": cand / pairs, "q124_result_pair_share": result / pairs,
    }


def main():
    p = argparse.ArgumentParser(description="Print the figures of a documents table.")
    p.add_argument("path", nargs="?", help="a documents.parquet; default: this corpus")
    p.add_argument("--seed", type=int, default=1)
    a = p.parse_args()
    if a.path:
        figures = stats(a.path)
    else:
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "documents.parquet")
            write(a.seed, path)
            figures = stats(path)
    for k, v in figures.items():
        print(f"{k}: {round(v, 4) if isinstance(v, float) else v}")


if __name__ == "__main__":
    main()
