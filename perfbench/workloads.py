"""The benchmark's closed-loop workloads.

One client issues jobs back to back into ``local[nproc / 2]``. Every call into
the package is one operation: it runs inside a layer span, its wall time is
taken, and its output is checked against the seed's oracle. An exception or
a mismatch counts the operation as failed.

Each workload has ``setup()`` (work users pay once per session: the drift
baseline) and ``iteration()`` (one loop pass, returning a sample of per-op
seconds and counts); ``summarize()`` turns the measured samples into the
per-layer metrics.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import inputs

# validate_resume's table: a salted full-table write into N_BUCKETS buckets,
# then a run killed after KILL_AFTER chunks of CHUNK buckets, then its resume
N_BUCKETS = 8
SALT = 2
CHUNK = 4
KILL_AFTER = 1


class Loop:
    """Operation bookkeeping shared by the workloads."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, span: str, fn, check):
        """Run ``fn`` in ``span``; return (output, seconds). ``check(out)``
        returns a list of mismatches; checks run outside the span and the
        timing."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span):
                out = fn()
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            self.failed += 1
            self.problems.append(f"{span}: {type(e).__name__}: {e}"[:500])
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        try:
            bad = check(out)
        except Exception as e:  # noqa: BLE001
            bad = [f"check raised {type(e).__name__}: {e}"]
        if bad:
            self.failed += 1
            self.problems += [f"{span}: {b}"[:500] for b in bad]
        return out, dt


def _expect(what: str, want, got) -> list[str]:
    return [] if want == got else [f"{what}: expected {want!r}, got {got!r}"]


def _bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in inputs.parquet_files(path))


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in inputs.parquet_files(path))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# validate_resume: the YAML-spec runner, full-table and chunked-resumable
# ---------------------------------------------------------------------------


class Transcripts:
    kind = "transcripts"
    # one pass is five calls of 1-3 s whose times swing with the host's
    # load, so the median is taken over at least two passes
    min_samples = 2

    def __init__(self, spark, loop: Loop, data_dir: str, oracle: dict, run_dir: str):
        from pysemantic_spark.fixtures import dim_tools_pdf

        self.spark = spark
        self.loop = loop
        self.oracle = oracle
        self.src = os.path.join(data_dir, "transcripts")
        self.baseline_src = os.path.join(data_dir, "baseline")
        self.run_dir = run_dir
        self.input_bytes = _bytes(self.src)
        self.dims = {"dim_tools": spark.createDataFrame(dim_tools_pdf())}
        self.spec = None
        self._report = None

    def p(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def input_rows(self) -> int:
        return self.oracle["n_rows"]

    def setup(self) -> float:
        from pysemantic_spark.fixtures import transcripts_spec
        from pysemantic_spark.operators.drift import save_drift_baseline
        from pysemantic_spark.spec import DriftSpec

        path = self.p("drift_baseline.json")
        _, secs = self.loop.op(
            "drift.baseline",
            lambda: save_drift_baseline(
                self.spark.read.parquet(self.baseline_src), inputs.DRIFT_COLUMNS, path
            ),
            lambda b: _expect(
                "baseline columns", sorted(inputs.DRIFT_COLUMNS), sorted(b["columns"])
            ),
        )
        self.baseline_s = secs
        spec = transcripts_spec()
        spec.drift = DriftSpec(columns=list(inputs.DRIFT_COLUMNS), baseline=path)
        self.spec = spec
        return secs

    # ---- checks -----------------------------------------------------------

    def _check_execute(self, out) -> list[str]:
        o = self.oracle
        bad = _expect("n_rows", o["n_rows"], out["n_rows"])
        got_counts = {
            r.check_name: r.n_violations
            for r in out["check_counts"].itertuples()
            if r.n_violations
        }
        bad += _expect("check_counts", o["check_counts"], got_counts)
        bad += _expect("n_dup_keys", o["n_dup_keys"], out["n_dup_keys"])
        bad += _expect("violation rows", o["violation_rows"], _rows(self.p("viol")))
        rep = out["partition_report"]
        bad += _expect("report rows", o["n_rows"], int(rep["n_rows"].sum()))
        bad += _expect(
            "violating rows", o["n_violating_rows"], int(rep["n_violating_rows"].sum())
        )
        drift = out["drift"]
        bad += _expect(
            "drift columns", sorted(inputs.DRIFT_COLUMNS), sorted(set(drift["column"]))
        )
        if not all(math.isfinite(v) for v in drift["value"]):
            bad.append("drift: non-finite metric value")
        return bad

    def _check_clean(self, _) -> list[str]:
        import pyarrow as pa
        import pyarrow.dataset as ds

        t = ds.dataset(self.p("clean"), format="parquet").to_table(
            columns=["conv_id", "turn_idx", "ts"]
        )
        ts = t.column("ts").cast(pa.timestamp("us")).cast(pa.int64())
        got = inputs.clean_digest(
            t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist(),
            ts.to_pylist(),
        )
        return _expect("clean rows", self.oracle["clean_rows"], t.num_rows) + _expect(
            "clean keep-first digest", self.oracle["clean_digest"], got
        )

    def _check_bucketize(self, manifest) -> list[str]:
        return _expect("bucketed rows", self.oracle["n_rows"], _rows(self.p("table/data"))) + _expect(
            "manifest buckets", N_BUCKETS, len(manifest.entries)
        )

    def _check_killed(self, res) -> list[str]:
        return _expect("killed-run buckets", CHUNK * KILL_AFTER, len(res["processed"]))

    def _check_resume(self, res, killed, io) -> list[str]:
        m = io.load_manifest()
        bad = _expect(
            "buckets not done", [],
            sorted(b for b, e in m.entries.items() if e.status != "done"),
        )
        done_before = sorted(killed["processed"]) if killed else []
        bad += _expect("skipped = killed run's buckets", done_before, sorted(res["skipped"]))
        bad += _expect(
            "processed + skipped", list(range(N_BUCKETS)),
            sorted(res["processed"] + res["skipped"]),
        )
        if self._report is not None:
            want = {
                int(r.bucket): (int(r.n_rows), int(r.n_violating_rows))
                for r in self._report.itertuples()
            }
            got = {
                b: (e.n_rows, e.n_violating_rows)
                for b, e in m.entries.items()
                if e.n_rows or e.n_violating_rows
            }
            bad += _expect("manifest vs one uninterrupted execute()", want, got)
        return bad

    # ---- one loop pass ----------------------------------------------------

    def iteration(self) -> dict:
        from pysemantic_spark.operators.runner import execute, validate
        from pysemantic_spark.sources.tableio import ParquetManifestIO, run_resumable

        L, spark, s = self.loop, self.spark, {}
        df = spark.read.parquet(self.src)

        self._report = None
        out, s["execute_s"] = L.op(
            "runner.execute",
            lambda: execute(
                spark, df, self.spec, dims=self.dims, bucket_by="conv_id",
                n_buckets=N_BUCKETS, violations_sink=self.p("viol"),
                dupes_sink=self.p("dupes"),
            ),
            self._check_execute,
        )
        if out is not None:
            t = out["timings"]
            s["plan_s"] = t["compile_and_plan"]
            s["pass1_s"] = t["pass1_violations_write"]
            s["pass2_s"] = t["pass2_overlapped"]
            s["rest_s"] = s["execute_s"] - s["plan_s"] - s["pass1_s"] - s["pass2_s"]
            s["violation_rows"] = _rows(self.p("viol"))
            s["violations_bytes"] = _bytes(self.p("viol")) / self.input_bytes
            s["dup_keys"] = out["n_dup_keys"]
            self._report = out["partition_report"]

        _, s["clean_export_s"] = L.op(
            "runner.clean",
            lambda: validate(
                spark, df, self.spec, dims=self.dims, bucket_by="conv_id",
                n_buckets=N_BUCKETS,
            ).clean.write.mode("overwrite").parquet(self.p("clean")),
            self._check_clean,
        )
        s["clean_rows"] = _rows(self.p("clean"))
        s["clean_bytes"] = _bytes(self.p("clean")) / self.input_bytes

        # each pass starts from an empty table and manifest
        shutil.rmtree(self.p("table"), ignore_errors=True)
        shutil.rmtree(self.p("rviol"), ignore_errors=True)
        io = ParquetManifestIO(self.p("table"))
        _, s["bucketize_s"] = L.op(
            "tableio.bucketize",
            lambda: io.write_bucketed(df, "conv_id", N_BUCKETS, salt_factor=SALT),
            self._check_bucketize,
        )
        data = self.p("table/data")
        s["bucketize_bytes"] = _bytes(data)
        s["bucketize_files"] = len(inputs.parquet_files(data))

        def run(max_chunks):
            return run_resumable(
                spark, io, self.spec, dims=self.dims, chunk_size=CHUNK,
                max_chunks=max_chunks, violations_dir=self.p("rviol"),
            )

        killed, s["killed_s"] = L.op("tableio.run_killed", lambda: run(KILL_AFTER), self._check_killed)
        resumed, s["resume_s"] = L.op(
            "tableio.run_resume", lambda: run(None),
            lambda r: self._check_resume(r, killed, io),
        )
        if os.path.exists(io.manifest_path):
            self._manifest_sample(s, io, killed, resumed)
        return s

    def _manifest_sample(self, s: dict, io, killed, resumed) -> None:
        m = io.load_manifest()
        leaders = [
            e for e in m.entries.values() if e.stats and "phase_timings" in e.stats
        ]
        phases = [e.stats["phase_timings"] for e in leaders]
        s["chunk_walls"] = [e.wall_time_sec * CHUNK for e in leaders]
        s["chunk_plan_s"] = _median([p["compile_and_plan"] for p in phases])
        s["chunk_pass1_s"] = _median([p["pass1_violations_write"] for p in phases])
        s["chunk_pass2_s"] = _median([p["pass2_overlapped"] for p in phases])
        s["chunks"] = len(leaders)
        s["manifest_bytes"] = os.path.getsize(io.manifest_path)
        if killed and resumed:
            s["skipped_buckets"] = len(resumed["skipped"])
            s["redo_buckets"] = len(set(killed["processed"]) & set(resumed["processed"]))

    @staticmethod
    def job_s(sample: dict) -> float:
        return sum(
            sample.get(k, 0.0)
            for k in ("execute_s", "clean_export_s", "bucketize_s", "killed_s", "resume_s")
        )

    def summarize(self, samples: list[dict]) -> dict:
        def med(k):
            return _median([s[k] for s in samples if k in s])

        n = self.input_rows()
        return {
            "runner.execute_s": med("execute_s"),
            "runner.turns_per_s": n / med("execute_s"),
            "runner.plan_s": med("plan_s"),
            "runner.pass1_s": med("pass1_s"),
            "runner.pass2_s": med("pass2_s"),
            "runner.rest_s": med("rest_s"),
            "runner.clean_export_s": med("clean_export_s"),
            "runner.violation_rows": med("violation_rows"),
            "runner.dup_keys": med("dup_keys"),
            "runner.violations_bytes": med("violations_bytes"),
            "runner.clean_rows": med("clean_rows"),
            "runner.clean_bytes": med("clean_bytes"),
            "drift.baseline_s": self.baseline_s,
            "tableio.bucketize_s": med("bucketize_s"),
            "tableio.bucketize_bytes": med("bucketize_bytes"),
            "tableio.bucketize_files": med("bucketize_files"),
            "tableio.killed_s": med("killed_s"),
            "tableio.resume_s": med("resume_s"),
            "tableio.turns_per_s": n / _median(
                [s["killed_s"] + s["resume_s"] for s in samples]
            ),
            "tableio.chunk_s": _median([w for s in samples for w in s.get("chunk_walls", [])]),
            "tableio.chunk_plan_s": med("chunk_plan_s"),
            "tableio.chunk_pass1_s": med("chunk_pass1_s"),
            "tableio.chunk_pass2_s": med("chunk_pass2_s"),
            "tableio.chunks": med("chunks"),
            "tableio.skipped_buckets": med("skipped_buckets"),
            "tableio.redo_buckets": med("redo_buckets"),
            "tableio.manifest_bytes": med("manifest_bytes"),
        }


# ---------------------------------------------------------------------------
# corpus_neardup: the dedup and similarity miners
# ---------------------------------------------------------------------------


def _pairs_match(what: str, want: list, got: list, tol: float = 2e-6) -> list[str]:
    if len(want) != len(got):
        return [f"{what}: expected {len(want)} rows, got {len(got)}"]
    for w, g in zip(want, got):
        same = all(
            abs(a - b) <= tol if isinstance(a, float) or isinstance(b, float) else a == b
            for a, b in zip(w, g)
        )
        if not same:
            return [f"{what}: first differing row expected {w}, got {g}"]
    return []


class Corpus:
    kind = "corpus"
    # one 14 s pass; a second would not fit the runs' time budget (README)
    min_samples = 1

    def __init__(self, spark, loop: Loop, data_dir: str, oracle: dict, run_dir: str):
        self.spark = spark
        self.loop = loop
        self.oracle = oracle
        self.d = data_dir
        import pyarrow.parquet as pq

        self.n_docs = pq.ParquetFile(os.path.join(data_dir, "documents.parquet")).metadata.num_rows
        self.n_vecs = pq.ParquetFile(os.path.join(data_dir, "embeddings.parquet")).metadata.num_rows

    def input_rows(self) -> int:
        return self.n_docs + self.n_vecs

    def setup(self) -> float:
        return 0.0

    def _ops(self):
        from pyspark.sql import functions as F

        from pysemantic_spark.operators import dedup, similarity

        spark = self.spark
        docs = spark.read.parquet(os.path.join(self.d, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(self.d, "embeddings.parquet"))
        # the __spark_entry__ operating points, so oracle_sql() applies
        return [
            ("dedup.minhash", "minhash", lambda: dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", n=3, num_hashes=64, bands=32, threshold=0.5)),
            ("dedup.simhash", "simhash", lambda: dedup.simhash_near_dup_pairs(
                docs, "doc_id", "text", max_hamming=8, portable_hash=True,
            ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))),
            ("dedup.ngram", "ngram", lambda: dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.12, max_shingle_freq=100)),
            ("similarity.emb_lsh", "emb_lsh", lambda: similarity.embedding_near_dup_pairs(
                emb, dim=64, threshold=0.4, n_planes=8, n_tables=24, n_probe_bits=1)),
            ("similarity.emb_exact", "emb_exact", lambda: similarity.cosine_pairs_exact(
                emb, threshold=0.4, n_blocks=16,
            ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))),
        ]

    def _check(self, key: str, rows: list) -> list[str]:
        if key != "emb_lsh":
            return _pairs_match(key, self.oracle[key], rows)
        exact = {(r[1], r[2]): r[0] for r in self.oracle["emb_exact"]}  # cos_sim, id_a, id_b
        bad = []
        for cos, a, b in rows:
            want = exact.get((a, b))
            if want is None:
                bad.append(f"emb_lsh: pair ({a}, {b}) not in the exact pair set")
            elif abs(want - cos) > 2e-6:
                bad.append(f"emb_lsh: pair ({a}, {b}) cosine {cos}, exact {want}")
        return bad[:3]

    def iteration(self) -> dict:
        from pysemantic_spark.operators.cache import release_intermediates

        s = {}
        for span, key, build in self._ops():
            rows, s[f"{key}_s"] = self.loop.op(
                span, lambda: inputs.rows_by_name(build().toPandas()),
                lambda r, key=key: self._check(key, r),
            )
            s[f"{key}_rows"] = len(rows) if rows is not None else 0
            release_intermediates()
        return s

    @staticmethod
    def job_s(sample: dict) -> float:
        return sum(v for k, v in sample.items() if k.endswith("_s"))

    def summarize(self, samples: list[dict]) -> dict:
        def med(k):
            return _median([s[k] for s in samples])

        exact = med("emb_exact_rows")
        return {
            "dedup.minhash_s": med("minhash_s"),
            "dedup.minhash_pairs": med("minhash_rows"),
            "dedup.simhash_s": med("simhash_s"),
            "dedup.simhash_pairs": med("simhash_rows"),
            "dedup.ngram_s": med("ngram_s"),
            "dedup.ngram_pairs": med("ngram_rows"),
            "similarity.emb_lsh_s": med("emb_lsh_s"),
            "similarity.emb_lsh_pairs": med("emb_lsh_rows"),
            "similarity.emb_exact_s": med("emb_exact_s"),
            "similarity.emb_exact_pairs": exact,
            "similarity.emb_recall": med("emb_lsh_rows") / exact if exact else 0.0,
        }


WORKLOADS = {"validate_resume": Transcripts, "corpus_neardup": Corpus}
