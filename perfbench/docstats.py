"""Shape figures of a documents table, the ones CorpusGen is tuned to match.

    python3 perfbench/docstats.py <documents.parquet | documents.tsv>

A .parquet file is read as the repository's sf<n> `documents` test table
(columns doc_id, source, text, ...); any other file as CorpusGen's output,
one document per line: doc_id<TAB>source<TAB>text. Prints the row count,
the words-per-text quantiles, the vocabulary size, the share of
near-duplicates (another document's text plus the word `dup`) and of exact
duplicates, and whether every source is `src<doc_id mod 20>`. Needs the
duckdb Python package; the benchmark itself does not run this.
"""
import sys

import duckdb


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    path = sys.argv[1].replace("'", "''")
    src = (f"read_parquet('{path}')" if path.endswith(".parquet") else
           f"read_csv('{path}', delim='\t', header=false, quote='', "
           "columns={'doc_id': 'BIGINT', 'source': 'VARCHAR', 'text': 'VARCHAR'})")
    c = duckdb.connect()
    c.execute(f"create view d as select doc_id, source, text, "
              f"len(string_split(text, ' ')) as n_words from {src}")
    n, = c.execute("select count(*) from d").fetchone()
    q = c.execute("select min(n_words), quantile_cont(n_words, [0.1, 0.5, 0.9]), max(n_words) "
                  "from d where not ends_with(text, ' dup')").fetchone()
    vocab, = c.execute("select count(distinct w) from "
                       "(select unnest(string_split(text, ' ')) as w from d) "
                       "where w <> 'dup'").fetchone()
    near, = c.execute("select count(*) from d where ends_with(text, ' dup')").fetchone()
    near_of_near, = c.execute(
        "select count(*) from d a join d b on b.text = a.text || ' dup' "
        "where ends_with(a.text, ' dup')").fetchone()
    exact, = c.execute("select count(*) - count(distinct text) from d").fetchone()
    src_ok, = c.execute("select bool_and(source = 'src' || (doc_id % 20)) from d").fetchone()
    print(f"documents            {n}")
    print(f"words per original   min {q[0]}, p10/p50/p90 {q[1]}, max {q[2]}")
    print(f"vocabulary           {vocab} words")
    print(f"near-duplicates      {near} ({near / n:.2%}); of a near-duplicate: {near_of_near}")
    print(f"exact duplicates     {exact} ({exact / n:.2%})")
    print(f"source = src<id%20>  {src_ok}")


if __name__ == "__main__":
    main()
