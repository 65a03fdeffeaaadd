"""Fuzzed oracle parity: registered document queries must match their
DuckDB oracles on RANDOM corpora, not just the driver's fixed testdata —
data-dependent engine divergences (regex whitespace classes, unicode
hashing, empty strings, duplicate texts, single-doc sources) hide from a
fixed fixture but not from this sweep."""

from __future__ import annotations

import shutil

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMOKE

# document-only queries, cheap enough to run per fuzz example
FUZZ_QUERIES = [
    "dq_column_entropy",
    "samp_quality_weighted",
    "samp_fixed_per_stratum",
    "samp_shuffle_order",
    "samp_stratified",
]

# token alphabet stressing both engines' string paths: ascii, digits,
# punctuation runs, unicode, the english stopwords the heuristics key on,
# and a vertical tab embedded IN a token (the Java-vs-RE2 \s divergence)
ALPHABET = [
    "the", "a", "of", "data", "x1", "42", "!!", "a.b,c", "héllo",
    "中文词", "ZZZ", "mix3d", "p@ss", "v\x0bt", "éé", "__", "q",
]


def _rows(seed):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []

    def nxt(n):
        return int(rng.integers(n))

    n_docs = 5 + nxt(20)
    n_src = 1 + nxt(3)
    for i in range(n_docs):
        n_tok = 1 + nxt(30)
        toks = [ALPHABET[nxt(len(ALPHABET))] for _ in range(n_tok)]
        text = " ".join(toks)
        if i >= 2 and nxt(4) == 0:
            text = rows[nxt(i)][1]  # exact duplicate of an earlier doc
        rows.append(
            (
                i,
                text,
                ["en", "es", "zh"][nxt(3)],
                f"src{nxt(n_src)}",
                len(text),
            )
        )
    return rows


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(seed=st.integers(0, 10**9))
def test_doc_queries_match_oracle_on_random_corpora(spark, tmp_path_factory, seed):
    from entropy_balance_weighting_spark.queries import QUERIES

    tmp = tmp_path_factory.mktemp("fuzz_sf")
    # non-document tables: reuse the smoke fixtures (queries under test
    # never read them, but load_table must find a complete directory)
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp / f"{t}.parquet")

    pdf = pd.DataFrame(
        _rows(seed),
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    pdf.to_parquet(tmp / "documents.parquet", index=False)

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'")

    for name in FUZZ_QUERIES:
        q = QUERIES[name]
        srows = sorted(
            tuple(f"{v:.9g}" if isinstance(v, float) else repr(v) for v in r)
            for r in q.fn(spark, str(tmp)).collect()
        )
        orows = sorted(
            tuple(f"{v:.9g}" if isinstance(v, float) else repr(v) for v in r)
            for r in con.execute(q.oracle).fetchall()
        )
        assert srows == orows, (name, srows[:3], orows[:3])
    con.close()
