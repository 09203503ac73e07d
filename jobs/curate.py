"""End-to-end training-data curation job — the pass a 100 TB corpus
runs between crawl and training, composed from the engine's
operators (each stage is the oracle-tested operator, not ad-hoc
logic):

  1. quality    — Gopher shape rules (pure Columns) + repetition
                  signals (Arrow UDF): drop boilerplate/spam shapes;
  2. decontam   — broadcast 13-gram probe against an eval set: drop
                  benchmark leakage;
  3. dedup      — exact content dedup (md5 groupBy, keep min id);
  3b. substring — optional (--substring-k): exact-substring dedup,
                  Lee et al. 2022 semantics (operators/substring_dedup);
  3c. select    — optional (--dsir-n + --dsir-target-source): DSIR
                  importance resampling toward a target slice
                  (operators/dsir);
  4. pack       — shard-parallel FFD into fixed token budgets.

Prints ONE JSON line with per-stage survivor counts and the packing
fill rate.  Every stage is map-only or a single bounded shuffle; the
whole job has no driver-side data loops, so the identical plan runs
at cluster scale (see SCALE.md).

Each stage output (stages 1-3c) is materialized exactly once, by
``_stage``, from the stage's input and a ``build``: with a
``work_dir`` it is committed through ``lineage.checkpoint_stage`` and
re-read from disk; without one ``build(input)`` is an eager
``localCheckpoint``, which also truncates the lineage.  Every later
stage reads the materialized frame, so no Python UDF of an earlier
stage (repetition signals, substring cut) runs again downstream, and
no cache is left in the session.  The operators are called inside
``build`` only: the substring operator is lazy, so its stage's
checkpoint (or commit) is the one job that runs its window pass, span
assembly and cut, and DSIR's two bucket-count fits run when its build
is called.  A stage already committed for the job id is never built,
so a re-run over a fully committed ``work_dir`` runs none of them.
In memory, the stage's row count (and the substring stage's removed
chars) come from an ``Observation`` on the job that materializes it,
not from a job of their own.  The decontam eval fixture is planned
from ``docs`` (no driver collect), so its shingle pass is one task on
one partition.

Usage:
  spark-submit --py-files dist/edk_spark.zip jobs/curate.py \
      --sf-dir /root/testdata/sf0.001 --max-tokens 512
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Observation, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# Python's str.split() separators: Java's \s misses NBSP, \x85, the
# \x1c-\x1f separators and the other Unicode spaces
_WS = r"[\s\x1c-\x1f\x85\p{Z}]+"


def eval_fixture(docs, n: int):
    """(eval_id, text) for the ``n`` lowest-``doc_id`` docs: eval_id
    0..n-1 in doc_id order, text their words 3-30 joined by one space
    (Python's ``" ".join(t.split()[2:30])``), planned in the JVM.  The
    frame is one partition, so the eval-side shingle pass is one task."""
    words = F.filter(F.split(F.col("text"), _WS), lambda w: w != "")
    return docs.orderBy("doc_id").limit(n).select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1).alias("eval_id"),
        F.array_join(F.slice(words, 3, 28), " ").alias("text"),
    )


def run(
    spark,
    sf_dir: str,
    max_tokens: int = 512,
    eval_snippets: int = 3,
    work_dir: str | None = None,
    job_id: str = "curate",
    substring_k: int = 0,
    dsir_n: int = 0,
    dsir_target_source: str | None = None,
) -> dict:
    """``work_dir=None`` runs the funnel in-memory (one spark-submit,
    no artifacts).  With a ``work_dir`` every stage commits its output
    + per-partition lineage rows through plans/lineage.py (the same
    seam jobs/pipeline.py uses), so a crashed or re-run job skips
    every committed partition — VERDICT r3 task 6.  Partition key =
    pmod(xxhash64(doc_id), 32): content-stable, uniform, and
    retry-deterministic."""
    from earth_data_kit_spark.operators.decontam import flag_contaminated
    from earth_data_kit_spark.operators.dedup import exact_dedup
    from earth_data_kit_spark.operators.packing import pack_sequences, packing_stats
    from earth_data_kit_spark.plans import lineage
    from earth_data_kit_spark.text import curation as cu

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_in = docs.count()
    if work_dir:
        docs = docs.withColumn("part", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(32)))

    def _stage(df, name: str, build, *sums: str):
        """(``build``'s output for the stage input ``df``, materialized
        once; its row count; the sum of each column in ``sums``).  With
        a ``work_dir`` the output is committed (only the not-yet-done
        partitions; a completed stage is not built) and re-read from
        disk, and one aggregate over the re-read gives the numbers (a
        resumed stage still counts its earlier commits).  A build that
        needs the whole stage input (dedup representatives, substring
        spans, DSIR fits) reads it from its closure, not from the
        uncommitted rows it is passed.  Else it is an eager
        ``localCheckpoint`` whose own job fills an ``Observation``; the
        checkpoint truncates the plan, so no later query fires the
        observation again."""
        aggs = [F.count(F.lit(1)).alias("n")] + [F.sum(c).alias(c) for c in sums]
        if work_dir:
            out = lineage.checkpoint_stage(df, work_dir, job_id, name, "part", ["doc_id"], build=build)
            row = out.agg(*aggs).first().asDict()
        else:
            obs = Observation()
            out = build(df).observe(obs, *aggs).localCheckpoint()
            row = obs.get
        return out, row["n"], [row[c] for c in sums]

    # ---- stage 1: quality (shape + repetition) --------------------------
    def quality(todo):
        q = cu.gopher_quality_cols(F.col("text"))
        r = cu.repetition_signals_udf()(F.col("text"))
        return (
            todo.withColumn("_keep_q", cu.gopher_keep_col(q))
            .withColumn("_keep_r", cu.gopher_repetition_keep_col(r))
            .where(F.col("_keep_q") & F.col("_keep_r"))
            .drop("_keep_q", "_keep_r")
        )

    kept, n_quality, _ = _stage(docs, "quality", quality)

    # ---- stage 2: decontamination --------------------------------------
    # eval fixture: verbatim spans lifted from the corpus (deterministic
    # planted leakage — a real run broadcasts the real eval sets)
    eval_df = eval_fixture(docs, eval_snippets)
    # flag_contaminated reads its input twice (probe + flag join): both
    # read the materialized quality output
    clean, n_clean, _ = _stage(kept, "decontam", lambda todo: (
        flag_contaminated(todo, eval_df, shingle_k=13).where(~F.col("contaminated")).drop("contaminated")
    ))

    # ---- stage 3: exact dedup ------------------------------------------
    # exact_dedup returns (doc_id, n_dups) representatives over all of
    # `clean`.  The restore is a plain shuffle equi-join on doc_id — NOT
    # broadcast: a mostly-unique corpus leaves the representatives
    # nearly corpus-sized, so they never fit under the broadcast
    # threshold at scale.  doc_id is the stored sort key, so both sides
    # shuffle-partition the same way (or co-locate for free under
    # bucketed storage).  Both sides read the materialized `clean`, so
    # the quality+decontam stages run once.
    unique, n_unique, _ = _stage(clean, "dedup", lambda todo: (
        todo.join(exact_dedup(clean).select("doc_id"), "doc_id")
    ))

    # ---- stage 3b (optional): exact-substring dedup ---------------------
    n_substring = None
    n_removed_chars = None
    if substring_k:
        from earth_data_kit_spark.operators.substring_dedup import substring_dedup

        # spans over the whole corpus; the removed chars are summed by
        # the stage's own job, so the cut runs once
        scrubbed, n_substring, (chars,) = _stage(
            unique, "substring", lambda _: substring_dedup(unique, k=substring_k), "n_removed_chars"
        )
        n_removed_chars = int(chars or 0)
        unique = scrubbed.drop("n_removed_chars", "n_spans")

    # ---- stage 3c (optional): DSIR selection toward a target slice ------
    n_selected = None
    if dsir_n:
        from earth_data_kit_spark.operators.dsir import dsir_resample

        target = (
            unique.where(F.col("source") == dsir_target_source)
            if dsir_target_source
            else unique
        )
        # fits and the top-n selection over the whole stage input
        unique, n_selected, _ = _stage(unique, "select", lambda _: dsir_resample(
            unique, target, n=dsir_n, text_col="text", id_col="doc_id", n_buckets=1 << 14,
        ).drop("dsir_log_w", "dsir_rank"))

    # ---- stage 4: sequence packing -------------------------------------
    packed = pack_sequences(unique, max_tokens, shards=32)
    st = packing_stats(packed, max_tokens).collect()[0]

    out = {
        "metric": "curation_funnel",
        "docs_in": n_in,
        "after_quality": n_quality,
        "after_decontam": n_clean,
        "after_dedup": n_unique,
        "sequences": st.n_seqs,
        "fill_rate": round(float(st.fill_rate), 4),
        "oversize_seqs": st.n_oversize,
        "max_tokens": max_tokens,
    }
    if n_substring is not None:
        out["after_substring"] = n_substring
        out["substring_removed_chars"] = n_removed_chars
    if n_selected is not None:
        out["after_select"] = n_selected
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--max-tokens", type=int, default=512)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument(
        "--work-dir",
        default=None,
        help="commit per-stage output + lineage here; re-runs skip "
        "committed partitions (omit for the in-memory one-shot)",
    )
    ap.add_argument("--substring-k", type=int, default=0,
                    help="exact-substring dedup window (0 = stage off)")
    ap.add_argument("--dsir-n", type=int, default=0,
                    help="DSIR selection size (0 = stage off)")
    ap.add_argument("--dsir-target-source", default=None,
                    help="source value defining the DSIR target slice")
    args = ap.parse_args(argv)

    from earth_data_kit_spark.session import get_spark

    spark = get_spark(app_name="edk-curate", cpus=args.cpus)
    out = run(
        spark, args.sf_dir, max_tokens=args.max_tokens, work_dir=args.work_dir,
        substring_k=args.substring_k, dsir_n=args.dsir_n,
        dsir_target_source=args.dsir_target_source,
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
