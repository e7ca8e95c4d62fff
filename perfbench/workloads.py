"""The benchmark's workloads: inputs, the timed operation, the output
check against an independently computed reference, and the traced
layer pass.

Every workload keeps its inputs under one work directory and exposes:

- ``generate(spark)``: synthesize the inputs from the seed and compute
  the reference (not timed, not part of set-up);
- ``open(spark)``: bind the inputs to the current session;
- ``op()``: one timed operation;
- ``check(counters)``: compare the last operation's output with the
  reference, returning an error string or None; ``counters`` are the
  Spark stage counters of the operation (``tracer.StageCounters``);
- ``layer_pass(tracer)``: call each layer's public function once, in
  sequence, each under its own span, check what the calls return that
  the timed operation does not cover, and return an error string or
  None;
- ``LAYERS``: {span name: its metrics as (metric, unit, better)}.
"""

from __future__ import annotations

import os

import duckdb

# counters recorded for every traced layer call: (metric, unit, better)
COUNTERS = [
    ("call_s", "s", "lower"),
    ("input_records", "count", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("task_run_s", "s", "lower"),
    ("failed_tasks", "count", "lower"),
]

SIGNALS = ["n_spans", "text_chars", "n_media_refs"]


def layer(*extras: tuple[str, str, str]) -> list[tuple[str, str, str]]:
    """The metrics of a traced layer call: COUNTERS plus ``extras``."""
    return COUNTERS + list(extras)


def parquet_glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


def parquet_sizes(path: str) -> dict[str, int]:
    """{path: bytes} of the parquet files under ``path``."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _sub, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    }


def files_added(before: dict[str, int], path: str) -> tuple[int, int]:
    """(number, total bytes) of the parquet files under ``path`` that
    were not in ``before``, a ``parquet_sizes`` snapshot."""
    new = [n for p, n in parquet_sizes(path).items() if p not in before]
    return len(new), sum(new)


# --------------------------------------------------------------------------
# full_validate
# --------------------------------------------------------------------------

# The engine's four default row rules, duplicate keys and dangling media
# refs, recomputed in DuckDB with formulations of its own (span order as
# a pairwise scan rather than sort+distinct). One row per violation:
# (doc_id, rule_id, detail).
REFERENCE_SQL = """
WITH d AS (
  SELECT row_number() OVER () AS rid, doc_id, spans,
         list_transform(spans, s -> s."offset") AS offs
  FROM read_parquet('{docs}')
),
refs AS (
  SELECT rid, doc_id,
         unnest(list_distinct(list_filter(
           list_transform(spans, s -> s.media_ref), r -> r IS NOT NULL))) AS ref
  FROM d
),
dangling AS (
  SELECT rid, doc_id, ref FROM refs
  WHERE NOT EXISTS (SELECT 1 FROM read_parquet('{catalog}') c WHERE c.media_ref = refs.ref)
)
SELECT doc_id, 'not_null_doc_id' AS rule_id, NULL::VARCHAR AS detail FROM d
  WHERE doc_id IS NULL
UNION ALL
SELECT doc_id, 'not_null_spans', NULL FROM d
  WHERE spans IS NULL OR len(spans) = 0
UNION ALL
SELECT doc_id, 'span_order', NULL FROM d
  WHERE spans IS NULL
     OR len(list_filter(offs, o -> o IS NULL)) > 0
     OR coalesce(list_bool_or(list_transform(range(1, len(offs)),
                                             i -> offs[i] >= offs[i + 1])), false)
UNION ALL
SELECT doc_id, 'span_shape', NULL FROM d
  WHERE spans IS NULL
     OR len(list_filter(spans, s -> NOT coalesce(
          (s.kind = 'text' AND s.text IS NOT NULL AND s.media_ref IS NULL)
          OR (s.kind <> 'text' AND s.media_ref IS NOT NULL AND s.text IS NULL),
          false))) > 0
UNION ALL
SELECT doc_id, 'unique_doc_id', NULL
  FROM (SELECT doc_id, count(*) OVER (PARTITION BY doc_id) AS n FROM d)
  WHERE n > 1
UNION ALL
SELECT doc_id, 'referential_media_ref', ref FROM dangling
"""

DANGLING_ROWS_SQL = REFERENCE_SQL.split("SELECT doc_id, 'not_null_doc_id'")[0] + (
    "SELECT count(DISTINCT rid) FROM dangling"
)


def violation_summary(con, rows_sql: str) -> dict:
    """{rule_id: (rows, order-independent digest)} of violation rows."""
    return {
        rule: (int(n), int(h))
        for rule, n, h in con.execute(
            f"""SELECT rule_id, count(*),
                       sum(hash(coalesce(doc_id, '<null>'),
                                coalesce(detail, '<null>')))::HUGEINT
                FROM ({rows_sql}) GROUP BY rule_id"""
        ).fetchall()
    }


def compare_summaries(got: dict, want: dict) -> "str | None":
    if got == want:
        return None
    diff = {
        rule: {"got": got.get(rule), "want": want.get(rule)}
        for rule in sorted(set(got) | set(want))
        if got.get(rule) != want.get(rule)
    }
    return f"violation rows differ from the reference: {diff}"


def check_validation_output(con, out_dir: str, reference: dict) -> "str | None":
    """Row-level violations (drift rows excluded: they are table-level,
    partition_id -1) must match the reference exactly, and the verdicts
    must carry one drift verdict per signal."""
    got = violation_summary(
        con,
        f"SELECT doc_id, rule_id, detail FROM read_parquet("
        f"'{parquet_glob(os.path.join(out_dir, 'violations'))}') "
        "WHERE partition_id >= 0",
    )
    err = compare_summaries(got, reference)
    if err:
        return err
    drift_rules = con.execute(
        f"SELECT count(DISTINCT rule_id) FROM read_parquet("
        f"'{parquet_glob(os.path.join(out_dir, 'verdicts'))}') "
        "WHERE rule_id LIKE 'drift_%'"
    ).fetchone()[0]
    if drift_rules != len(SIGNALS):
        return f"expected {len(SIGNALS)} drift verdicts, got {drift_rules}"
    return None


def check_incremental_output(con, violations_dir: str, reference: dict) -> "str | None":
    """Merged incremental violations (drift rows excluded) must match
    the one-shot reference over the same files. The engine records the
    increment in ``detail`` ('inc=N', plus ';promoted_by=...' for keys
    a later delta made duplicate), which the reference has no notion of,
    so those details compare as NULL; referential details (the dangling
    ref) must match as they are."""
    got = violation_summary(
        con,
        "SELECT doc_id, rule_id, CASE WHEN detail LIKE 'inc=%' THEN NULL "
        f"ELSE detail END AS detail FROM read_parquet('{parquet_glob(violations_dir)}') "
        "WHERE partition_id >= 0",
    )
    err = compare_summaries(got, reference)
    return err and f"incremental: {err}"


class FullValidate:
    name = "full_validate"
    SIZES = {"full": 20_000, "tiny": 2_000}

    def __init__(self, work: str, seed: int, scale: str):
        self.dir = os.path.join(work, self.name)
        self.seed = seed
        self.n_docs = self.SIZES[scale]
        self.n_media = max(self.n_docs // 100, 1000)
        self.n_delta = self.n_docs // 10  # docs appended in the traced incremental pass
        self.con = duckdb.connect()

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def generate(self, spark) -> None:
        from automatic_data_validator_spark import drift
        from automatic_data_validator_spark.synth import (
            make_documents,
            make_media_catalog,
        )

        make_documents(spark, self.n_docs, self.n_media, self.seed).write.parquet(
            self.path("documents")
        )
        make_media_catalog(spark, self.n_media, self.seed).write.parquet(
            self.path("catalog")
        )
        # the drift baseline comes from an independently seeded table
        self.baseline = drift.sketch_columns(
            drift.document_signals(
                make_documents(spark, self.n_docs // 5, self.n_media, self.seed + 1)
            ),
            SIGNALS,
        )
        sql = REFERENCE_SQL.format(
            docs=parquet_glob(self.path("documents")),
            catalog=parquet_glob(self.path("catalog")),
        )
        self.reference = violation_summary(self.con, sql)
        self.dangling_rows = self.con.execute(
            DANGLING_ROWS_SQL.format(
                docs=parquet_glob(self.path("documents")),
                catalog=parquet_glob(self.path("catalog")),
            )
        ).fetchone()[0]

    def open(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.path("documents"))
        self.catalog = spark.read.parquet(self.path("catalog"))
        self.out = self.path("out")

    def op(self) -> None:
        from automatic_data_validator_spark import drift
        from automatic_data_validator_spark.sources import write_outputs_parallel
        from automatic_data_validator_spark.validate import run_validation

        res = run_validation(
            self.spark,
            self.docs,
            catalog=self.catalog,
            with_profile=True,
            drift_baseline=self.baseline,
            drift_signals=drift.document_signals,
        )
        write_outputs_parallel(
            {
                "violations": res.violations,
                "verdicts": res.verdicts,
                "metrics": res.metrics,
            },
            self.out,
        )

    def check(self, counters: dict) -> "str | None":
        return check_validation_output(self.con, self.out, self.reference)

    # metrics of the traced layer pass beyond COUNTERS, per layer
    LAYERS = {
        "rules.per_partition_rule_aggregate": layer(),
        "rules.violation_rows": layer(),
        "dedup.uniqueness_check": layer(("task_skew", "ratio", "lower")),
        "refcheck.referential_check": layer(("violation_count_gap", "count", "higher")),
        "profile.finalize_partial_profile": layer(),
        "drift.sketch_columns": layer(),
        "sources.write_outputs_parallel": layer(
            ("files_written", "count", "lower"),
            ("bytes_written", "bytes", "lower"),
        ),
        "incremental.validate_incremental": layer(
            ("jobs", "count", "lower"),
            ("input_records_per_delta_row", "ratio", "lower"),
            ("state_files_written", "count", "lower"),
            ("state_bytes_written", "bytes", "lower"),
        ),
        "incremental.compact_state": [
            ("call_s", "s", "lower"),
            ("bytes_rewritten", "bytes", "lower"),
        ],
    }
    OP_SPAN = "validate.run_validation"
    OP_METRICS = [("validate.slot_busy_share", "share", "higher")]

    def op_metrics(self, span: dict, cores: int) -> dict:
        """Σ task run time / (wall × cores) over the whole operation."""
        return {"validate.slot_busy_share": span["task_run_s"] / (span["call_s"] * cores)}

    def layer_pass(self, tracer) -> "str | None":
        """The passes ``run_validation`` builds, each called on its own
        and forced to completion inside its span, then the incremental
        path (``incremental_pass``)."""
        from pyspark.sql import functions as F

        from automatic_data_validator_spark import dedup, drift, refcheck
        from automatic_data_validator_spark import rules as R
        from automatic_data_validator_spark.profile import (
            build_partial_profile,
            finalize_partial_profile,
        )
        from automatic_data_validator_spark.sources import write_outputs_parallel
        from automatic_data_validator_spark.validate import DEFAULT_RULES

        spark, docs = self.spark, self.docs
        preds = [(r.rule_id, R.compile_rule(r, docs)) for r in R.row_level(DEFAULT_RULES)]
        plan = build_partial_profile(docs, detect_formats=False)
        with tracer.span("rules.per_partition_rule_aggregate"):
            per_part = R.per_partition_rule_aggregate(docs, preds, plan.exprs).persist()
            per_part.count()
        with tracer.span("rules.violation_rows"):
            row_viol = R.violation_rows(docs, preds).localCheckpoint(eager=True)
        with tracer.span("dedup.uniqueness_check") as rec:
            uniq_verdicts, uniq_viol = dedup.uniqueness_check(docs)
            uniq_viol.count()
        rec["task_skew"] = tracer.counters.task_skew(rec["mark"])
        with tracer.span("refcheck.referential_check") as rec:
            ref_verdicts, ref_viol = refcheck.referential_check(docs, self.catalog)
            ref_viol.count()
        verdict_total = ref_verdicts.agg(F.sum("violation_count")).collect()[0][0]
        rec["violation_count_gap"] = int(verdict_total or 0) - self.dangling_rows
        with tracer.span("profile.finalize_partial_profile"):
            metrics = finalize_partial_profile(per_part, plan).metrics_df(spark)
        with tracer.span("drift.sketch_columns"):
            drift.sketch_columns(drift.document_signals(docs), SIGNALS)
        verdicts = R.verdicts_from_per_partition(per_part, [rid for rid, _ in preds])
        out = self.path("out_layers")
        with tracer.span("sources.write_outputs_parallel") as rec:
            write_outputs_parallel(
                {
                    "violations": row_viol.unionByName(uniq_viol).unionByName(ref_viol),
                    "verdicts": verdicts.unionByName(uniq_verdicts).unionByName(
                        ref_verdicts
                    ),
                    "metrics": metrics,
                },
                out,
            )
        rec["files_written"], rec["bytes_written"] = files_added({}, out)
        spark.catalog.clearCache()
        return self.incremental_pass(tracer)

    def incremental_pass(self, tracer) -> "str | None":
        """Bootstrap incremental state from the documents (untraced),
        append one delta of fresh ids, validate it, then compact the
        state. The delta's hot keys recur, so the key-index probe finds
        them. The merged violations after the delta must equal the
        reference over the same files."""
        from pyspark.sql import functions as F

        from automatic_data_validator_spark import drift, incremental
        from automatic_data_validator_spark.synth import make_documents

        spark = self.spark
        docs, state = self.path("inc_docs"), self.path("inc_state")
        os.makedirs(docs)
        for p in parquet_sizes(self.path("documents")):
            os.link(p, os.path.join(docs, os.path.basename(p)))
        kwargs = {
            "catalog": self.catalog,
            "drift_baseline": self.baseline,
            "drift_signals": drift.document_signals,
        }
        incremental.validate_incremental(spark, docs, state, **kwargs)
        doc_id = F.col("doc_id")
        fresh = F.when(doc_id.startswith("doc-hot-"), doc_id).otherwise(
            F.regexp_replace(doc_id, "^doc-", "dlt-")
        )
        delta = self.path("delta")
        make_documents(
            spark, self.n_delta, self.n_media, self.seed + 2, num_partitions=1
        ).withColumn("doc_id", fresh).write.parquet(delta)
        for p in parquet_sizes(delta):
            os.rename(p, os.path.join(docs, "delta-" + os.path.basename(p)))

        before = parquet_sizes(state)
        with tracer.span("incremental.validate_incremental") as rec:
            res = incremental.validate_incremental(spark, docs, state, **kwargs)
        rec["input_records_per_delta_row"] = rec["input_records"] / res.delta_rows
        rec["state_files_written"], rec["state_bytes_written"] = files_added(before, state)
        merged = self.path("inc_violations")
        res.violations.write.parquet(merged)
        err = check_incremental_output(
            self.con,
            merged,
            violation_summary(
                self.con,
                REFERENCE_SQL.format(
                    docs=parquet_glob(docs), catalog=parquet_glob(self.path("catalog"))
                ),
            ),
        )

        before = parquet_sizes(state)
        with tracer.span("incremental.compact_state") as rec:
            incremental.compact_state(spark, state)
        rec["bytes_rewritten"] = files_added(before, state)[1]
        return err


# --------------------------------------------------------------------------
# neardup_dedup
# --------------------------------------------------------------------------


def planted_truth(n_docs: int, n_pair_docs: int) -> dict:
    """What ``make_neardup_corpus`` plants: docs 2k and 2k+1 (2k <
    n_pair_docs) are near-duplicate pairs, every other pair of docs is
    disjoint, so the lower id of each pair is kept."""
    ids = [f"dd-{i:012d}" for i in range(n_pair_docs)]
    return {
        "kept": n_docs - n_pair_docs // 2,
        "pairs": {(ids[i], ids[i + 1]) for i in range(0, n_pair_docs, 2)},
        "drop_ids": set(ids[1::2]),
    }


MAX_CORPUS_SCANS = 5.0
# cosine top-k over synthesized vectors: one vector per corpus doc
VECTOR_DIM = 32
N_QUERIES = 3
TOP_K = 5


def check_dedup_output(got: dict, truth: dict) -> "str | None":
    """``got`` holds kept (a count), pairs and drop_ids (sets) and scans
    (corpus reads of the operation)."""
    for key in ("kept", "pairs", "drop_ids"):
        if got[key] != truth[key]:
            return f"{key} differs from the planted truth"
    if not got["scans"] < MAX_CORPUS_SCANS:
        return f"corpus scanned {got['scans']:.2f} times (limit {MAX_CORPUS_SCANS})"
    return None


def check_text_features(got: tuple, want: tuple) -> "str | None":
    """(chars, quality-feature words, whitespace tokens) summed over the
    corpus, against the DuckDB sums."""
    if got != want:
        return f"textops: (chars, quality words, tokens) {got} != reference {want}"
    return None


def check_topk(exact: dict, approx: dict, want: dict) -> "str | None":
    """{query id: neighbour ids in rank order}: the exact top-k must
    equal the reference ranking; the approximate top-k must rank every
    query first, as its own nearest neighbour (it shares all its LSH
    buckets)."""
    if exact != want:
        return f"similarity: brute-force top-{TOP_K} {exact} != reference {want}"
    if any(approx.get(q, [None])[0] != q for q in want):
        return f"similarity: lsh_topk misses a query as its own neighbour: {approx}"
    return None


class NeardupDedup:
    name = "neardup_dedup"
    SIZES = {"full": (20_000, 2_000), "tiny": (2_000, 200)}

    def __init__(self, work: str, seed: int, scale: str):
        self.dir = os.path.join(work, self.name)
        self.seed = seed
        self.n_docs, self.n_pair_docs = self.SIZES[scale]
        self.truth = planted_truth(self.n_docs, self.n_pair_docs)
        self.con = duckdb.connect()

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def generate(self, spark) -> None:
        from automatic_data_validator_spark.synth import make_neardup_corpus

        make_neardup_corpus(spark, self.n_docs, self.n_pair_docs, seed=self.seed).write.parquet(
            self.path("corpus")
        )

    def open(self, spark) -> None:
        self.spark = spark
        self.corpus = spark.read.parquet(self.path("corpus"))

    def op(self) -> None:
        from automatic_data_validator_spark.dedup import neardup_dedup

        kept, drop, pairs, _oversize = neardup_dedup(self.corpus)
        self.result = (kept, drop, pairs)
        self.counts = (kept.count(), drop.count(), pairs.count())

    def check(self, counters: dict) -> "str | None":
        _kept, drop, pairs = self.result
        got = {
            "kept": self.counts[0],
            "drop_ids": {r[0] for r in drop.select("doc_id").collect()},
            "pairs": {(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()},
            "scans": counters["input_records"] / self.n_docs,
        }
        if len(got["drop_ids"]) != self.counts[1] or len(got["pairs"]) != self.counts[2]:
            return f"duplicate rows in drop list or pairs: counts {self.counts}"
        return check_dedup_output(got, self.truth)

    LAYERS = {
        "dedup.minhash_signature": layer(),
        "dedup.minhash_lsh_duplicates": layer(("candidate_pairs", "count", "lower")),
        "dedup.ngram_jaccard": layer(("verified_per_candidate", "ratio", "higher")),
        "dedup.dedup_keep_representatives": layer(),
        "textops.quality_features": layer(),
        "textops.token_count_ws": layer(),
        "similarity.brute_force_topk_arrow": layer(),
        "similarity.lsh_topk": layer(("recall_at_k", "ratio", "higher")),
    }
    OP_SPAN = "dedup.neardup_dedup"
    OP_METRICS = [("dedup.neardup_dedup.corpus_scans", "scans", "lower")]

    def op_metrics(self, span: dict, cores: int) -> dict:
        """Input records read by the operation / corpus rows."""
        return {"dedup.neardup_dedup.corpus_scans": span["input_records"] / self.n_docs}

    def layer_pass(self, tracer) -> "str | None":
        """The stages ``neardup_dedup`` composes, called one by one with
        the pipeline's parameters (16 hashes, 16 bands, k=3, 0.5); then
        the text features over the corpus and cosine top-k over
        synthesized vectors (``text_and_vector_pass``)."""
        from pyspark.sql import functions as F

        from automatic_data_validator_spark import dedup

        df = self.corpus
        with tracer.span("dedup.minhash_signature"):
            df.select(dedup.minhash_signature("text")).write.format("noop").mode(
                "overwrite"
            ).save()
        with tracer.span("dedup.minhash_lsh_duplicates") as rec:
            cand = dedup.minhash_lsh_duplicates(
                df, "doc_id", "text", num_hashes=16, bands=16
            ).localCheckpoint(eager=True)
        rec["candidate_pairs"] = n_cand = cand.count()
        with tracer.span("dedup.ngram_jaccard") as rec:
            verified = (
                dedup.ngram_jaccard(df, "doc_id", "text", cand)
                .filter(F.col("jaccard") >= 0.5)
                .localCheckpoint(eager=True)
            )
        rec["verified_per_candidate"] = verified.count() / max(n_cand, 1)
        with tracer.span("dedup.dedup_keep_representatives"):
            kept, drop = dedup.dedup_keep_representatives(
                df, verified.select("id_a", "id_b"), "doc_id"
            )
            kept.count()
            drop.count()
        return self.text_and_vector_pass(tracer)

    def text_and_vector_pass(self, tracer) -> "str | None":
        """``textops`` features over the corpus, checked against DuckDB
        sums, and exact and LSH cosine top-k over vectors synthesized
        from the seed, checked against a NumPy ranking."""
        import numpy as np
        from pyspark.sql import functions as F

        from automatic_data_validator_spark import similarity, textops

        df = self.corpus
        with tracer.span("textops.quality_features"):
            feats = textops.quality_features(df).localCheckpoint(eager=True)
        with tracer.span("textops.token_count_ws"):
            tokens = df.agg(F.sum(textops.token_count_ws("text"))).collect()[0][0]
        got = tuple(
            feats.agg(F.sum("q_chars"), F.sum("q_words")).collect()[0]
        ) + (tokens,)
        chars, words = self.con.execute(
            "SELECT sum(length(text)), sum(len(string_split_regex(trim(text), '\\s+')))"
            f" FROM read_parquet('{parquet_glob(self.path('corpus'))}')"
        ).fetchone()
        text_err = check_text_features(got, (chars, words, words))

        vec = F.transform(
            F.sequence(F.lit(0), F.lit(VECTOR_DIM - 1)),
            lambda j: (F.pmod(F.xxhash64("id", j, F.lit(self.seed)), F.lit(2001)) - 1000)
            / 1000.0,
        )
        vecs = self.spark.range(self.n_docs).select(
            F.col("id").alias("vec_id"), vec.alias("embedding")
        ).localCheckpoint(eager=True)
        queries = vecs.filter(F.col("vec_id") < N_QUERIES).withColumnRenamed(
            "vec_id", "query_id"
        )
        with tracer.span("similarity.brute_force_topk_arrow"):
            exact = similarity.brute_force_topk_arrow(vecs, queries, k=TOP_K).collect()
        with tracer.span("similarity.lsh_topk") as rec:
            approx = similarity.lsh_topk(vecs, queries, k=TOP_K).collect()

        def ranked(rows) -> dict:
            out: dict = {}
            for r in sorted(rows, key=lambda r: (r.query_id, -r.cosine_sim, r.neighbor_id)):
                out.setdefault(r.query_id, []).append(r.neighbor_id)
            return out

        ids, m = zip(*sorted((r.vec_id, r.embedding) for r in vecs.collect()))
        m = np.asarray(m, dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = m[:N_QUERIES] @ m.T
        want = {
            q: [ids[i] for i in sorted(range(len(ids)), key=lambda i: (-sims[q][i], ids[i]))[:TOP_K]]
            for q in range(N_QUERIES)
        }
        exact, approx = ranked(exact), ranked(approx)
        rec["recall_at_k"] = sum(
            len(set(approx.get(q, [])) & set(want[q])) for q in want
        ) / (TOP_K * len(want))
        return text_err or check_topk(exact, approx, want)


WORKLOADS = {w.name: w for w in (FullValidate, NeardupDedup)}
