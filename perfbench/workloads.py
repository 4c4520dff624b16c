"""The benchmark's workloads: inputs, one closed-loop operation, its check, its trace.

Each workload calls only public functions of ``data_quality_check_spark``.
``prepare`` builds (or reuses) the seeded inputs and computes the reference
answers before any Spark session exists; it is never timed. ``attach`` runs
after set-up and before the loop. ``op`` is one operation of the closed loop;
``check`` verifies that operation's outputs and returns a list of failures.
``layers`` turns the ledger records of one traced operation into per-layer
metrics; ``extra_layers`` runs extra timings after the traced loop, and the
workloads in ``ALSO_TRACES`` each run one traced operation after that.

``BENCHMARK.json`` lists ``filter_batch`` and ``profile_tables``.
``filter_stream`` and ``dedup_docs`` are measured in their traced runs, and
each can also be run on its own with ``--workload``.
"""

from __future__ import annotations

import os
import shutil
import statistics
from contextlib import nullcontext
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import fixtures as FX

AS_OF = "2026-01-01 00:00:00"
MB = 1024.0 * 1024.0


def _read_parquet_tree(path: str, columns: list[str]) -> pd.DataFrame:
    """All parquet files under `path` (hive `_bucket=NN/` dirs included)."""
    parts = [
        pq.read_table(os.path.join(root, n), columns=columns).to_pandas()
        for root, _, names in os.walk(path)
        for n in sorted(names)
        if n.endswith(".parquet")
    ]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=columns)


def _duck(views: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def _pairs(df: pd.DataFrame) -> set:
    return set(zip(df["id_a"].astype("int64"), df["id_b"].astype("int64")))


COMMON_LAYERS = [
    "session.start_s", "session.worker_warm_s",
    "sources.scan_s", "sources.scan_mb",
    "functions.py_boot_s", "functions.py_init_s", "functions.py_run_s",
    "functions.py_sent_mb", "functions.py_recv_mb",
    "trace.overhead_s", "trace.overhead_pct",
]


class Workload:
    name = ""
    unit = ""
    LAYERS: list[str] = []  # per-layer metrics this workload reports beyond COMMON_LAYERS
    ALSO_TRACES: tuple = ()  # workloads whose layers this one's traced run measures too

    def __init__(self, ctx):
        self.ctx = ctx
        self.facts: dict = {}

    def prepare(self) -> None:
        raise NotImplementedError

    def attach(self, spark) -> None:
        pass

    def op(self, spark, k: int, ledger=None) -> int:
        raise NotImplementedError

    def check(self, k: int) -> list[str]:
        return []

    def layers(self, records: dict) -> dict:
        return {}

    def extra_layers(self, spark, ledger) -> dict:
        return {}


# ───────────────────────── filter_batch ─────────────────────────


class FilterBatch(Workload):
    """`run_filter` (default FilterConfig) then `audit_and_publish` on a flat
    multi-file directory of generated images."""

    name = "filter_batch"
    unit = "images"
    LAYERS = [f"pipeline.run.{m}" for m in (
        "wall_s", "jobs", "driver_s", "executor_run_s", "executor_cpu_s", "write_s",
        "dup_decisions_s", "score_rows_s", "decide_s")] + [
        "pipeline.publish.wall_s", "pipeline.publish.jobs"]
    N_IMAGES = 12000

    def prepare(self) -> None:
        from data_quality_check_spark.pipeline.reference_impl import compute_golden

        ctx = self.ctx
        path, sig, reused = FX.images(ctx.cache, ctx.seed, self.N_IMAGES, 2 * ctx.nproc, ctx.pool_map)
        self.input = os.path.join(path, "images")
        pdf = _read_parquet_tree(self.input, None)
        gold = compute_golden(pdf).drop_duplicates("image_id").set_index("image_id")
        self.gold_keep = gold["keep"].astype(bool)
        self.gold_scrub = gold.loc[gold["keep"], "scrubbed_caption"]
        self.rows = len(pdf)
        self.facts = {"images": self.rows, "distinct_ids": int(gold.shape[0]),
                      "files": 2 * ctx.nproc, "fixture": sig, "fixture_reused": reused,
                      "golden_keep_fraction": round(float(self.gold_keep.mean()), 4)}
        self.reports: dict[int, dict] = {}

    def _dirs(self, k: int) -> tuple[str, str, str, str]:
        d = os.path.join(self.ctx.work, f"filter-{k}")
        return d, os.path.join(d, "staged"), os.path.join(d, "ckpt"), os.path.join(d, "published")

    def op(self, spark, k: int, ledger=None) -> int:
        from data_quality_check_spark.pipeline.publish import audit_and_publish
        from data_quality_check_spark.pipeline.run import FilterConfig, run_filter

        _, out, ckpt, final = self._dirs(k)
        with ledger.call("pipeline.run") if ledger else nullcontext():
            run_filter(spark, self.input, out, ckpt, FilterConfig())
        with ledger.call("pipeline.publish") if ledger else nullcontext():
            self.reports[k] = audit_and_publish(spark, out, ckpt, final, strict=False)
        return self.rows

    def check(self, k: int) -> list[str]:
        d, _, _, final = self._dirs(k)
        report = self.reports.pop(k)
        errors = []
        if not report["passed"]:
            errors.append("publish audit failed: " + ", ".join(
                c["name"] for c in report["checks"] if not c["passed"]))
        else:
            got = _read_parquet_tree(os.path.join(final, "filtered"), ["image_id", "scrubbed_caption"])
            if got["image_id"].duplicated().any():
                errors.append("published corpus has duplicate image_ids")
            kept = set(got["image_id"])
            gold = set(self.gold_keep.index[self.gold_keep])
            tp = len(kept & gold)
            f1 = 2 * tp / (len(kept) + len(gold)) if kept or gold else 1.0
            if f1 < 0.99:
                errors.append(f"keep/drop F1 {f1:.4f} < 0.99")
            both = got[got["image_id"].isin(gold)].set_index("image_id")["scrubbed_caption"]
            diff = (both != self.gold_scrub.reindex(both.index)).sum()
            if diff:
                errors.append(f"{diff} scrubbed captions differ from the reference")
        shutil.rmtree(d, ignore_errors=True)
        return errors

    def layers(self, rec: dict) -> dict:
        run, pub = rec["pipeline.run"], rec["pipeline.publish"]
        return {
            "pipeline.run.wall_s": run["wall_s"],
            "pipeline.run.jobs": run["jobs"],
            "pipeline.run.driver_s": run["driver_s"],
            "pipeline.run.executor_run_s": run["executor_run_s"],
            "pipeline.run.executor_cpu_s": run["executor_cpu_s"],
            "pipeline.run.write_s": run["write_s"],
            "pipeline.publish.wall_s": pub["wall_s"],
            "pipeline.publish.jobs": pub["jobs"],
        }

    def extra_layers(self, spark, ledger) -> dict:
        """Single-function timings on the same input, each to a noop sink. A
        function gone from `pipeline.run` is skipped and its metric reads 0."""
        import data_quality_check_spark.pipeline.run as R
        from data_quality_check_spark.operators.dedup import pin_scope

        cfg = R.FilterConfig()
        df = R.with_rid(spark.read.parquet(self.input).withColumn(
            "_bucket", R.bucket_col(num_buckets=cfg.num_buckets)))
        def noop(frame):
            frame.write.format("noop").mode("overwrite").save()

        calls = {  # metric -> (function, call)
            "dup_decisions": ("decisions_for", lambda: R.decisions_for(df, cfg).count()),
            "score_rows": ("score_rows", lambda: noop(R.score_rows(df, cfg))),
            "decide": ("decide", lambda: noop(R.decide(df, cfg))),
        }
        out = {}
        for name, (fn, call) in calls.items():
            if not hasattr(R, fn):
                continue
            with pin_scope(), ledger.call(name):
                call()
            out[f"pipeline.run.{name}_s"] = ledger.last["wall_s"]
        return out


# ───────────────────────── filter_stream ─────────────────────────


class FilterStream(Workload):
    """`run_stream_filter` draining a landing directory of small image files,
    one file per micro-batch (`max_files_per_trigger=1`)."""

    name = "filter_stream"
    unit = "images"
    LAYERS = [f"streaming.{m}" for m in (
        "batch_p50_s", "add_batch_s", "commit_s", "plan_s", "jobs_per_batch",
        "source_reads_per_row")]
    N_FILES = 5
    ROWS_PER_FILE = 100  # + 2% verbatim duplicates

    def prepare(self) -> None:
        from data_quality_check_spark.pipeline.reference_impl import compute_golden

        ctx = self.ctx
        path, sig, reused = FX.images(ctx.cache, ctx.seed, self.N_FILES * self.ROWS_PER_FILE,
                                      self.N_FILES, ctx.pool_map)
        self.input = os.path.join(path, "images")
        self.files = sorted(n for n in os.listdir(self.input) if n.endswith(".parquet"))
        # each micro-batch is one file, so the reference is applied per file:
        # duplicates collapse within a batch, not across batches
        gold = {}
        for name in self.files:
            g = compute_golden(pq.read_table(os.path.join(self.input, name)).to_pandas())
            gold.update(zip(g.loc[g["keep"], "image_id"], g.loc[g["keep"], "scrubbed_caption"]))
        self.gold = gold
        self.rows = int(sig["rows"]["images"])
        self.facts = {"images": self.rows, "files": self.N_FILES, "fixture": sig,
                      "fixture_reused": reused, "golden_kept": len(gold)}
        self.totals: dict[int, dict] = {}
        self.reports: dict[int, list[dict]] = {}
        self.run_ids: dict[int, str] = {}

    def attach(self, spark) -> None:
        from probes import stream_progress

        self.progress = stream_progress(spark)

    def _dirs(self, k: int) -> tuple[str, str, str, str]:
        d = os.path.join(self.ctx.work, f"stream-{k}")
        return d, os.path.join(d, "landing"), os.path.join(d, "out"), os.path.join(d, "ckpt")

    def op(self, spark, k: int, ledger=None) -> int:
        from data_quality_check_spark.pipeline.run import FilterConfig
        from data_quality_check_spark.streaming.stream_filter import run_stream_filter

        _, landing, out, ckpt = self._dirs(k)
        os.makedirs(landing)
        for name in self.files:
            shutil.copyfile(os.path.join(self.input, name), os.path.join(landing, name))
        with ledger.call("streaming") if ledger else nullcontext():
            self.totals[k] = run_stream_filter(
                spark, landing, out, ckpt, FilterConfig(), max_files_per_trigger=1)
        self.run_ids[k] = self.progress.runs()[-1]
        self.reports[k] = [b for b in self.progress.batches(self.run_ids[k]) if b["input_rows"]]
        return self.rows

    def check(self, k: int) -> list[str]:
        d, _, out, _ = self._dirs(k)
        totals, errors = self.totals.pop(k), []
        if totals["batches"] != self.N_FILES or len(self.reports[k]) != self.N_FILES:
            errors.append(f"{totals['batches']} micro-batches, {len(self.reports[k])} progress "
                          f"reports; want one per file ({self.N_FILES})")
        if totals["rows_in"] != self.rows:
            errors.append(f"rows_in {totals['rows_in']} != {self.rows}")
        got = _read_parquet_tree(os.path.join(out, "filtered"), ["image_id", "scrubbed_caption"])
        kept = dict(zip(got["image_id"], got["scrubbed_caption"]))
        if set(kept) != set(self.gold):
            errors.append(f"kept ids differ from the per-file reference: "
                          f"{len(set(kept) - set(self.gold))} extra, "
                          f"{len(set(self.gold) - set(kept))} missing")
        else:
            diff = sum(kept[i] != c for i, c in self.gold.items())
            if diff:
                errors.append(f"{diff} scrubbed captions differ from the reference")
        shutil.rmtree(d, ignore_errors=True)
        return errors

    def layers(self, rec: dict) -> dict:
        k = max(self.reports)
        reports, run_id = self.reports[k], self.run_ids[k]

        def med(*phases):
            return statistics.median(
                sum(b["duration_ms"].get(p, 0) for p in phases) / 1e3 for b in reports)

        return {
            "streaming.batch_p50_s": med("triggerExecution"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.commit_s": med("walCommit", "commitOffsets"),
            "streaming.plan_s": med("queryPlanning", "getBatch", "latestOffset"),
            "streaming.jobs_per_batch": rec["streaming"]["window_jobs"] / len(reports),
            "streaming.source_reads_per_row": sum(b["input_rows"] for b in reports) / self.rows,
        }


# ───────────────────────── profile_tables ─────────────────────────

SPEC_OVERRIDES = {
    "lineitem": {
        "date_cols": ["l_shipdate"],
        "rules": [
            {"name": "qty range", "condition": "l_quantity BETWEEN 1 AND 50", "severity": "high"},
            {"name": "disc range", "condition": "l_discount BETWEEN 0 AND 0.10", "severity": "medium"},
        ],
    },
    "orders": {"date_cols": ["o_orderdate"]},
    "customer": {},
    "events": {"date_cols": ["ts"]},
    "documents": {},
}
SCORE_DIMS = ("completeness", "uniqueness", "freshness", "consistency", "distribution",
              "validity", "correlation", "volumetry", "standardization", "global_score")


class ProfileTables(Workload):
    """`run_scoring` and the `scores_df` plan on each sf0.1-shaped table."""

    name = "profile_tables"
    unit = "rows"
    LAYERS = [f"operators.profiler.{t}_s" for t in FX.TABLES] + [
        "operators.profiler.jobs_per_table", "operators.profiler.driver_s",
        "operators.profiler.executor_cpu_s"] + [
        f"plans.quality_scores.{t}_s" for t in FX.TABLES] + [
        "plans.quality_scores.jobs_per_table"]
    SCALE = 0.1  # of the sf0.1 row counts

    def prepare(self) -> None:
        ctx = self.ctx
        path, sig, reused = FX.tables(ctx.cache, ctx.seed, 2 * ctx.nproc, self.SCALE)
        self.paths = {t: os.path.join(path, f"{t}.parquet") for t in FX.TABLES}
        self.impls = _implementations()
        self.oracle = {}
        if "plans.quality_scores" in self.impls:
            from data_quality_check_spark.plans.quality_scores import ScoreSpec, scores_duck_sql

            self.specs = {t: ScoreSpec.from_parquet(p, as_of=AS_OF, **SPEC_OVERRIDES[t])
                          for t, p in self.paths.items()}
            con = _duck(self.paths)
            self.oracle = {t: con.execute(scores_duck_sql(t, self.specs[t])).df() for t in FX.TABLES}
            con.close()
        self.rows = sum(sig["rows"].values())
        self.facts = {"rows": sig["rows"], "files_per_table": 2 * ctx.nproc,
                      "fixture": sig, "fixture_reused": reused}
        self.first_scores: dict | None = None
        self.results: dict[int, dict] = {}

    def op(self, spark, k: int, ledger=None) -> int:
        now = datetime.fromisoformat(AS_OF)
        out = {layer: {} for layer in self.impls}
        for t, path in self.paths.items():
            df = spark.read.parquet(path)
            for layer, impl in self.impls.items():
                with ledger.call(f"{layer}.{t}") if ledger else nullcontext():
                    if layer == "operators.profiler":
                        out[layer][t] = impl(df, table_name=t, now=now)
                    else:
                        out[layer][t] = impl(df, self.specs[t]).toPandas()
        self.results[k] = out
        return self.rows

    def check(self, k: int) -> list[str]:
        from data_quality_check_spark.testing import compare_result

        out = self.results.pop(k)
        errors = []
        for t, got in out.get("plans.quality_scores", {}).items():
            ok, msg = compare_result(got, self.oracle[t])
            if not ok:
                errors.append(f"scores_df({t}) != DuckDB twin: {msg}")
        scoring = out.get("operators.profiler", {})
        scores = {t: {d: getattr(s, d) for d in SCORE_DIMS} for t, s in scoring.items()}
        for t, dims in scores.items():
            bad = [d for d, v in dims.items() if not 0.0 <= v <= 100.0]
            if bad:
                errors.append(f"run_scoring({t}) out of range: {bad}")
        if self.first_scores is None:
            self.first_scores = scores
        elif scores != self.first_scores:
            errors.append("run_scoring dimensions changed between passes")
        return errors

    def layers(self, rec: dict) -> dict:
        out = {}
        for layer in self.impls:
            calls = [rec[f"{layer}.{t}"] for t in FX.TABLES]
            for t, c in zip(FX.TABLES, calls):
                out[f"{layer}.{t}_s"] = c["wall_s"]
            out[f"{layer}.jobs_per_table"] = sum(c["jobs"] for c in calls) / len(calls)
            if layer == "operators.profiler":
                out[f"{layer}.driver_s"] = sum(c["driver_s"] for c in calls)
                out[f"{layer}.executor_cpu_s"] = sum(c["executor_cpu_s"] for c in calls)
        return out


def _implementations() -> dict:
    """The scoring implementations that exist, by layer. ROADMAP asks for one
    implementation per capability, so either may be removed later; the
    workload then scores with the one left and the other's metrics read 0."""
    impls = {}
    try:
        from data_quality_check_spark.operators.scoring import run_scoring

        impls["operators.profiler"] = run_scoring
    except ImportError:
        pass
    try:
        from data_quality_check_spark.plans.quality_scores import scores_df

        impls["plans.quality_scores"] = scores_df
    except ImportError:
        pass
    if not impls:
        raise ImportError("no scoring implementation left to benchmark")
    return impls


# ───────────────────────── dedup_docs ─────────────────────────

SHINGLE_N = 3
CONTAIN_T = 0.9
JACCARD_T = 0.6
ASYM_RATIO = 4.0
# operator -> name of its candidate observation (operators.dedup.candidate_counts)
DEDUP_OPS = {
    "exact_duplicate_groups": None,
    "neardup_clusters_minhash": "minhash_lsh_pairs",
    "simhash_near_pairs": "hamming_near_pairs",
    "containment_pairs": None,
    "containment_pairs_banded": "containment_banded",
    "containment_pairs_asym": "containment_asym",
}
# operator -> planted copy kinds it must find
PLANTED_RECALL = {
    "neardup_clusters_minhash": ("exact", "near"),
    "containment_pairs_banded": ("exact", "near", "half"),
    "containment_pairs_asym": ("snippet",),
}


class DedupDocs(Workload):
    """Six `operators.dedup` operators on documents plus planted copies. An
    operator gone from `operators.dedup` is skipped and its metrics read 0."""

    name = "dedup_docs"
    unit = "documents"
    LAYERS = [f"operators.dedup.{op}_s" for op in DEDUP_OPS] + [
        f"operators.dedup.{op}_{m}" for op, obs in DEDUP_OPS.items() if obs
        for m in ("candidates", "yield")] + [
        f"operators.dedup.{op}_planted_recall" for op in PLANTED_RECALL] + [
        "operators.dedup.shuffle_mb", "operators.dedup.executor_cpu_s"]
    N_DOCS = 800
    PLANT_PER_KIND = 10

    def prepare(self) -> None:
        from data_quality_check_spark.functions.text import fingerprint_sql
        from data_quality_check_spark.operators import dedup as DD

        ctx = self.ctx
        self.ops = [op for op in DEDUP_OPS if hasattr(DD, op)]
        path, sig, reused = FX.docs(ctx.cache, ctx.seed, self.N_DOCS, ctx.nproc, self.PLANT_PER_KIND)
        self.path = os.path.join(path, "documents.parquet")
        self.planted = pq.read_table(os.path.join(path, "planted.parquet")).to_pandas()
        con = _duck({"documents": self.path})
        if "simhash_near_pairs" in self.ops:
            docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").df()
            sigs = DD.simhash_signatures(docs["text"].fillna("").tolist(), SHINGLE_N)
            con.register("sigs", pd.DataFrame({"id": docs["doc_id"], "simhash": sigs}))
        oracle_sql = {  # operator -> its DuckDB twin
            "exact_duplicate_groups": lambda: (
                f"SELECT {fingerprint_sql('text')} AS fingerprint, count(*) AS n, "
                "min(doc_id) AS winner FROM documents GROUP BY 1 HAVING count(*) > 1"),
            "simhash_near_pairs": lambda: (
                "SELECT a.id AS id_a, b.id AS id_b, "
                "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming "
                "FROM sigs a JOIN sigs b ON a.id < b.id "
                "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"),
            "containment_pairs": lambda: DD.containment_pairs_sql(
                "documents", "doc_id", "text", CONTAIN_T, SHINGLE_N),
            "containment_pairs_asym": lambda: DD.containment_pairs_asym_sql(
                "documents", "doc_id", "text", CONTAIN_T, SHINGLE_N, min_size_ratio=ASYM_RATIO),
        }
        self.oracle = {op: con.execute(sql()).df() for op, sql in oracle_sql.items() if op in self.ops}
        con.close()
        self.rows = int(sig["rows"]["documents"])
        self.facts = {"documents": self.rows, "planted": int(sig["rows"]["planted"]),
                      "planted_share": round(sig["rows"]["planted"] / self.rows, 4),
                      "files": ctx.nproc, "fixture": sig, "fixture_reused": reused}
        self.first: dict | None = None
        self.results: dict[int, dict] = {}
        self.candidates: dict[str, int] = {}  # of the latest operation

    def _calls(self, docs):
        from data_quality_check_spark.operators import dedup as DD

        calls = {
            "exact_duplicate_groups": lambda: DD.exact_duplicate_groups(docs, "doc_id", "text"),
            "neardup_clusters_minhash": lambda: DD.neardup_clusters_minhash(
                docs, "doc_id", "text", JACCARD_T, ngram=SHINGLE_N),
            "simhash_near_pairs": lambda: DD.simhash_near_pairs(
                docs, "doc_id", "text", max_hamming=3, ngram=SHINGLE_N),
            "containment_pairs": lambda: DD.containment_pairs(
                docs, "doc_id", "text", CONTAIN_T, ngram=SHINGLE_N),
            "containment_pairs_banded": lambda: DD.containment_pairs_banded(
                docs, "doc_id", "text", CONTAIN_T, ngram=SHINGLE_N),
            "containment_pairs_asym": lambda: DD.containment_pairs_asym(
                docs, "doc_id", "text", CONTAIN_T, ngram=SHINGLE_N, min_size_ratio=ASYM_RATIO),
        }
        return {op: calls[op] for op in self.ops}

    def op(self, spark, k: int, ledger=None) -> int:
        from data_quality_check_spark.operators import dedup as DD

        docs = spark.read.parquet(self.path)
        out, cands = {}, {}
        for name, call in self._calls(docs).items():
            with DD.pin_scope(), (ledger.call(f"operators.dedup.{name}") if ledger else nullcontext()):
                out[name] = call().toPandas()
            obs = DEDUP_OPS[name]
            if obs:
                cands[name] = DD.candidate_counts().get(obs, 0)
        self.results[k] = out
        self.candidates = cands
        return self.rows

    def _recall(self, pairs: set, kinds: tuple[str, ...]) -> float:
        p = self.planted[self.planted["kind"].isin(kinds)]
        want = {(min(a, b), max(a, b)) for a, b in zip(p["id_a"], p["id_b"])}
        return len(want & pairs) / len(want)

    def check(self, k: int) -> list[str]:
        from data_quality_check_spark.testing import compare_result

        out = self.results.pop(k)
        errors = []
        for name, want in self.oracle.items():
            ok, msg = compare_result(out[name], want)
            if not ok:
                errors.append(f"{name} != DuckDB twin: {msg}")
        if {"containment_pairs", "containment_pairs_banded"} <= set(out):
            exact = out["containment_pairs"].set_index(["id_a", "id_b"])
            banded = out["containment_pairs_banded"].set_index(["id_a", "id_b"])
            if not banded.index.isin(exact.index).all() or not np.array_equal(
                banded["containment"].to_numpy(), exact.loc[banded.index, "containment"].to_numpy()
            ):
                errors.append(
                    "containment_pairs_banded emitted a pair or value the exact operator does not")
        sig = {n: sorted(map(tuple, df.astype(str).to_numpy().tolist())) for n, df in out.items()}
        if self.first is None:
            self.first = sig
        elif sig != self.first:
            errors.append("dedup outputs changed between passes: "
                          + ", ".join(n for n in sig if sig[n] != self.first[n]))
        found = {op: _pairs(out[op]) for op in ("containment_pairs_banded", "containment_pairs_asym")
                 if op in out}
        if "neardup_clusters_minhash" in out:
            clusters = out["neardup_clusters_minhash"]
            comp = dict(zip(clusters["doc_id"].astype("int64"), clusters["component"]))
            found["neardup_clusters_minhash"] = {
                (min(a, b), max(a, b)) for a, b in zip(self.planted["id_a"], self.planted["id_b"])
                if a in comp and comp.get(a) == comp.get(b)}
        self.recall = {op: self._recall(found[op], kinds)
                       for op, kinds in PLANTED_RECALL.items() if op in found}
        self.rows_out = {n: len(df) for n, df in out.items()}
        return errors

    def layers(self, rec: dict) -> dict:
        out = {}
        for name in self.ops:
            obs = DEDUP_OPS[name]
            out[f"operators.dedup.{name}_s"] = rec[f"operators.dedup.{name}"]["wall_s"]
            if obs:
                c = self.candidates.get(name, 0)
                out[f"operators.dedup.{name}_candidates"] = c
                out[f"operators.dedup.{name}_yield"] = self.rows_out[name] / c if c else 0.0
        for name, r in self.recall.items():
            out[f"operators.dedup.{name}_planted_recall"] = r
        calls = [rec[f"operators.dedup.{n}"] for n in self.ops]
        out["operators.dedup.shuffle_mb"] = sum(c["shuffle_bytes"] for c in calls) / MB
        out["operators.dedup.executor_cpu_s"] = sum(c["executor_cpu_s"] for c in calls)
        return out


FilterBatch.ALSO_TRACES = (FilterStream,)
ProfileTables.ALSO_TRACES = (DedupDocs,)
WORKLOADS = {w.name: w for w in (FilterBatch, FilterStream, ProfileTables, DedupDocs)}
# every workload reports every per-layer metric; layers it does not exercise read 0
SUITE_LAYERS = COMMON_LAYERS + [m for w in WORKLOADS.values() for m in w.LAYERS]
