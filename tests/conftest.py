from __future__ import annotations

import random

import pandas as pd
import pytest

from pysemantic_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pysemantic_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def rand_docs():
    """Factory of seeded ``(doc_id, text)`` docs of 30 words over a 50-word
    vocab; about half get a planted near-dup (1-3 token edits) at id
    1000+i."""

    def make(n_docs=40, seed=7):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(50)]
        docs = []
        for i in range(n_docs):
            base = [rng.choice(vocab) for _ in range(30)]
            docs.append((i, " ".join(base)))
            if rng.random() < 0.5:  # planted near-dup: few token edits
                mut = list(base)
                for _ in range(rng.randint(1, 3)):
                    mut[rng.randrange(len(mut))] = rng.choice(vocab)
                docs.append((1000 + i, " ".join(mut)))
        return docs

    return make


EDGE_TEXTS = [
    None,
    "",
    "   ",
    " \t ",
    " \t x ",
    "x",
    "a b",
    "a b a b a",
    "x\u00a0y z w",          # NBSP is NOT java \s: stays inside a token
    "tabs\tbetween\ttokens here",
    "trailing tab\t",
    "a  b   c    d",
    "ŵöřd ünïcode tökens 😀 mixed",
]


@pytest.fixture
def edge_df(spark):
    """``(doc_id, text)``: the odd corners of Spark's string semantics
    (trim strips 0x20 only; split keeps leading/trailing empties; NULL
    text) plus 60 seeded random docs."""
    rng = random.Random(7)
    vocab = ["spark", "row", "scan", "a", "the", "dup", "x", "épée"]
    texts = list(EDGE_TEXTS) + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(60)
    ]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
