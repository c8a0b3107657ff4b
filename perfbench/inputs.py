"""Seeded benchmark inputs and their expected outputs, cached per seed.

Each workload's inputs are generated from ``--seed`` alone and written as
parquet under ``perfbench/.work/inputs/<kind>-s<seed>-<size>-<dims>/``.
The expected outputs (the oracle) are computed once per seed, independently
of the Spark engine, and stored beside the inputs as ``oracle.json``. The
program under test only ever sees the parquet files.

- transcripts: ``fixtures.write_transcripts_parquet`` (1% mega
  conversation, injected violations) plus a second-seed table the drift
  baseline is sketched from. Oracle: ``fixtures.pandas_oracle``.
- corpus: ``tools/gen_sfdata_local`` documents and 64-d unit vectors.
  Oracle: DuckDB over the parquet with ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

SIZES = {
    "transcripts": {
        "default": {"rows": 50_000, "baseline_rows": 25_000},
        "tiny": {"rows": 6_000, "baseline_rows": 2_000},
    },
    "corpus": {
        "default": {"docs": 1_000, "vectors": 1_000},
        "tiny": {"docs": 300, "vectors": 300},
    },
}

# the drift block added to transcripts_spec(): one numeric, two categorical
DRIFT_COLUMNS = ["turn_idx", "role", "tool"]

# __spark_entry__ query whose oracle_sql() answers each miner op
CORPUS_ORACLES = {
    "minhash": "minhash_lsh_pairs_documents",
    "simhash": "simhash_neardups_documents",
    "ngram": "ngram_jaccard_pairs_documents",
    "emb_exact": "embedding_neardup_exact",
}


def _derived_seed(seed: int, stream: int) -> int:
    """Independent sub-seed per input stream of one workload seed."""
    return int.from_bytes(
        hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:4], "little"
    )


def input_dir(kind: str, seed: int, size: str) -> str:
    dims = "-".join(f"{k}{v}" for k, v in sorted(SIZES[kind][size].items()))
    return os.path.join(WORK, "inputs", f"{kind}-s{seed}-{size}-{dims}")


def prepare(kind: str, seed: int, size: str) -> tuple[str, dict, dict]:
    """Return (input dir, oracle, cost) for the seed, generating on a miss.

    ``cost`` holds the generation and oracle seconds of THIS call (zero on a
    cache hit); they are the benchmark's own cost, reported apart from
    ``setup_s``."""
    d = input_dir(kind, seed, size)
    done = os.path.join(d, "oracle.json")
    if os.path.exists(done):
        with open(done) as f:
            return d, json.load(f), {"gen_s": 0.0, "oracle_s": 0.0, "cached": True}
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    gen = {"transcripts": _gen_transcripts, "corpus": _gen_corpus}[kind]
    orc = {"transcripts": _oracle_transcripts, "corpus": _oracle_corpus}[kind]
    t0 = time.perf_counter()
    gen(tmp, seed, SIZES[kind][size])
    t1 = time.perf_counter()
    oracle = orc(tmp)
    t2 = time.perf_counter()
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, oracle, {"gen_s": t1 - t0, "oracle_s": t2 - t1, "cached": False}


def parquet_files(d: str) -> list[str]:
    return [
        os.path.join(r, n)
        for r, _, names in os.walk(d)
        for n in names
        if n.endswith(".parquet")
    ]


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------


def _gen_transcripts(d: str, seed: int, size: dict) -> None:
    from pysemantic_spark.fixtures import write_transcripts_parquet

    write_transcripts_parquet(
        os.path.join(d, "transcripts"), size["rows"],
        seed=_derived_seed(seed, 0), skew_conv_frac=0.01,
    )
    write_transcripts_parquet(
        os.path.join(d, "baseline"), size["baseline_rows"],
        seed=_derived_seed(seed, 1),
    )


def clean_digest(conv_id, turn_idx, ts_us) -> str:
    """Order-free digest of the clean rows' (conv_id, turn_idx, ts) keys:
    equal digests mean the same keep-first survivors."""
    rows = sorted(zip(conv_id, (int(t) for t in turn_idx), ts_us))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _oracle_transcripts(d: str) -> dict:
    import pyarrow.parquet as pq

    from pysemantic_spark.fixtures import dim_tools_pdf, pandas_oracle, transcripts_spec

    pdf = pq.read_table(os.path.join(d, "transcripts")).to_pandas()
    spec = transcripts_spec()
    out = pandas_oracle(pdf, spec, {"dim_tools": dim_tools_pdf()})
    viol, clean = out["violations"], out["clean"]
    return {
        "n_rows": int(len(pdf)),
        "check_counts": {
            k: int(v) for k, v in viol.groupby("check_name").size().items()
        },
        "violation_rows": int(len(viol)),
        "n_violating_rows": int(
            len(pdf) - len(pandas_oracle(pdf, _no_key(spec), {"dim_tools": dim_tools_pdf()})["clean"])
        ),
        "n_dup_keys": int(len(out["dupes"])),
        "clean_rows": int(len(clean)),
        "clean_digest": clean_digest(
            clean["conv_id"].tolist(), clean["turn_idx"].tolist(),
            clean["ts"].dt.as_unit("us").astype("int64").tolist(),
        ),
    }


def _no_key(spec):
    """The spec without keys: its clean set is exactly the rows that violate
    no row check, so input rows minus it = violating rows."""
    import dataclasses

    return dataclasses.replace(spec, uniqueness=[], order_by=[])


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def _gen_corpus(d: str, seed: int, size: dict) -> None:
    import numpy as np
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from gen_sfdata_local import gen_documents, gen_embeddings

    for name, gen, n, stream in (
        ("documents", gen_documents, size["docs"], 0),
        ("embeddings", gen_embeddings, size["vectors"], 1),
    ):
        rng = np.random.default_rng(_derived_seed(seed, stream))
        # four row groups, so the scan splits across a few tasks
        pq.write_table(
            gen(rng, n), os.path.join(d, f"{name}.parquet"),
            row_group_size=max(1, -(-n // 4)),
        )


def _oracle_corpus(d: str) -> dict:
    import duckdb

    sys.path.insert(0, ROOT)
    from __spark_entry__ import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{os.path.join(d, t + '.parquet')}')"
        )
    out = {}
    for op, q in CORPUS_ORACLES.items():
        out[op] = rows_by_name(con.execute(sql[q]).fetchdf())
    con.close()
    return out


def rows_by_name(pdf) -> list[list]:
    """A frame's rows as sorted lists of Python scalars, columns in name
    order and floats rounded to 6 places: the form engine output and oracle
    output are compared in."""
    cols = [pdf[c].tolist() for c in sorted(pdf.columns)]
    return sorted(
        [round(v, 6) if isinstance(v, float) else v for v in r] for r in zip(*cols)
    )
