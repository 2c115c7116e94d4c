"""Per-layer measurements for the traced run (`--trace 1`).

Each function times calls into one of the program's modules from
outside: `core` serially in this process, `pipeline`, `sources.io`,
`checkpoint`, the operators and `jobs.curate` through their public
functions on the live session, with Spark's status store read per job
group. Every layer runs on the workload's own corpus, so each workload
reports the same metric names.
"""

from __future__ import annotations

import os
import statistics
import time

from probes import job_group
from workloads import CURATE_ARGS, CURATE_BASE_DOCS, CURATE_EVAL_DOCS, EXTRACT_BUCKETS, dir_bytes, load_curate_bench

CORE_SAMPLE_DOCS = 300
# the operator and curate layers run on about this many of the corpus's
# docs, which keeps the traced run of the larger corpus inside its time
LAYER_SAMPLE_DOCS = 1000
COMMIT_SAMPLES = 16
# curate() stage names → per-layer metric names
CURATE_STAGES = (
    "read_input", "extract", "quality_gates", "exact_dedup", "near_dup_drop", "decon_redact_write",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def core_layer(corpus: str) -> dict[str, float]:
    """Serial kernel cost on an every-k-th-doc sample of the corpus:
    whole docs, single spans by kind, and one Arrow batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.core.batch import extract_arrow_batch
    from docling_pdf_spark.core.extract import extract_document
    from docling_pdf_spark.schemas import DOCUMENTS_PA

    table = pq.read_table(corpus)
    step = max(1, table.num_rows // CORE_SAMPLE_DOCS)
    sample = table.take(list(range(0, table.num_rows, step))[:CORE_SAMPLE_DOCS])
    docs = sample.to_pylist()

    t0 = time.perf_counter()
    for d in docs:
        extract_document(d["doc_id"], d["spans"])
    out = {"core.docs_per_s": len(docs) / (time.perf_counter() - t0)}

    for kind in ("pdf", "html", "text"):
        per_span = []
        for d in docs:
            for s in d["spans"] or ():
                if s["kind"] == kind:
                    t0 = time.perf_counter()
                    extract_document(d["doc_id"], [s])
                    per_span.append(time.perf_counter() - t0)
        out[f"core.{kind}_span_us"] = statistics.median(per_span) * 1e6

    batch = pa.Table.from_pylist(docs, schema=DOCUMENTS_PA).combine_chunks().to_batches()[0]
    t0 = time.perf_counter()
    extract_arrow_batch(batch)
    out["core.arrow_batch_us_per_doc"] = (time.perf_counter() - t0) / batch.num_rows * 1e6
    return out


def pipeline_layer(spark, status, corpus: str, n_docs: int, num_partitions: int, cores: int, core_docs_per_s: float):
    """The salt probe and `extract()` to a noop sink, with the
    MapInArrow node's Python-worker metrics. Returns the metrics and
    the resolved salt mode."""
    from docling_pdf_spark import pipeline

    docs = spark.read.parquet(corpus)
    sc = spark.sparkContext
    with job_group(sc, "pipeline.salt_probe"):
        t0 = time.perf_counter()
        mode = pipeline.resolve_salt_mode(docs, num_partitions)
        probe_s = time.perf_counter() - t0
    with job_group(sc, "pipeline.extract"):
        t0 = time.perf_counter()
        _noop(pipeline.extract(docs, num_partitions=num_partitions, salt_mode=mode))
        extract_s = time.perf_counter() - t0
    py = status.python_node_totals("pipeline.extract")
    stages = status.group_totals("pipeline.extract")
    return {
        "pipeline.salt_probe_s": probe_s,
        "pipeline.extract_s": extract_s,
        "pipeline.per_core_ratio": (n_docs / extract_s / cores) / core_docs_per_s,
        **{f"pipeline.{k}": v for k, v in py.items()},
        "pipeline.tasks": stages["tasks"],
    }, mode


def io_and_operator_layers(spark, status, corpus: str, n_docs: int, work: str, num_partitions: int, salt_mode: str):
    """`sources.io.idempotent_partition_overwrite` of a persisted
    extracted frame, `checkpoint.ProgressLog.commit`, and the MinHash
    and repetition operators on the extracted text that passes the
    funnel's length gate (a doc_id-hash sample of LAYER_SAMPLE_DOCS)."""
    from pyspark.sql import functions as F

    from docling_pdf_spark import pipeline
    from docling_pdf_spark.checkpoint import BucketManifest, ProgressLog
    from docling_pdf_spark.operators.dedup import minhash_lsh_dedup
    from docling_pdf_spark.operators.quality import repetition_stats
    from docling_pdf_spark.sources.io import idempotent_partition_overwrite

    sc = spark.sparkContext
    out = {}
    extracted = (
        pipeline.extract(spark.read.parquet(corpus), num_partitions=num_partitions, salt_mode=salt_mode)
        .withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(EXTRACT_BUCKETS)))
        .persist()
    )
    texts = None
    try:
        extracted.count()
        target = os.path.join(work, "layers", "io")
        with job_group(sc, "io.write"):
            t0 = time.perf_counter()
            idempotent_partition_overwrite(extracted, ["bucket"], target)
            out["io.write_s"] = time.perf_counter() - t0
        out["io.bytes_per_input_byte"] = dir_bytes(target) / os.path.getsize(corpus)

        log = ProgressLog(os.path.join(work, "layers", "ckpt"))
        commits = []
        for b in range(COMMIT_SAMPLES):
            manifest = BucketManifest(partition_id=b, status="done", n_docs=1, n_ok=1)
            t0 = time.perf_counter()
            log.commit(manifest)
            commits.append(time.perf_counter() - t0)
        out["checkpoint.commit_ms"] = statistics.median(commits) * 1e3

        text = F.array_join(
            F.transform(
                F.filter(F.coalesce(F.col("spans"), F.array()), lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
            "\n",
        )
        in_sample = F.pmod(F.xxhash64("doc_id"), F.lit(n_docs)) < LAYER_SAMPLE_DOCS
        texts = (
            extracted.where(F.col("extraction_successful") & (F.col("n_chars") >= 80) & in_sample)
            .select("doc_id", text.alias("text"))
            .persist()
        )
        texts.count()
        with job_group(sc, "dedup.minhash"):
            t0 = time.perf_counter()
            _noop(minhash_lsh_dedup(texts, threshold=CURATE_ARGS["jaccard"]))
            out["dedup.minhash_s"] = time.perf_counter() - t0
        with job_group(sc, "quality.repetition"):
            t0 = time.perf_counter()
            _noop(repetition_stats(texts, signals=("top_bigram_frac",)))
            out["quality.repetition_s"] = time.perf_counter() - t0
    finally:
        if texts is not None:
            texts.unpersist()
        extracted.unpersist()
    return out


def curate_metrics(funnel: dict) -> dict[str, float]:
    walls = {s["stage"]: s["wall_s"] for s in funnel["stages"]}
    return {f"curate.{name}_s": walls[name] for name in CURATE_STAGES}


def curate_layer(spark, root: str, work: str, corpus: str, seed: int) -> dict[str, float]:
    """`jobs.curate.curate` with the curate_funnel arguments on the first
    LAYER_SAMPLE_DOCS docs of this workload's corpus (for a workload
    that is not the funnel itself)."""
    import pyarrow.parquet as pq

    from jobs.curate import curate

    os.makedirs(os.path.join(work, "layers"), exist_ok=True)
    head = os.path.join(work, "layers", "head.parquet")
    pq.write_table(pq.read_table(corpus).slice(0, LAYER_SAMPLE_DOCS), head)
    eval_set = os.path.join(work, "layers", "eval.parquet")
    load_curate_bench(root).gen_eval_set(eval_set, CURATE_BASE_DOCS, CURATE_EVAL_DOCS, seed=seed)
    with job_group(spark.sparkContext, "curate.layer"):
        funnel = curate(
            spark, head, os.path.join(work, "layers", "curated"), decon_eval=eval_set, **CURATE_ARGS
        )
    return curate_metrics(funnel)


def trace_targets(workload: str) -> list[tuple[object, str, str]]:
    """The module attributes the traced run wraps in spans. curate()'s
    own stage list already times its stages, so the funnel adds none."""
    if workload != "extract_job":
        return []
    from docling_pdf_spark import checkpoint, pipeline
    from docling_pdf_spark.sources import io

    return [
        (pipeline, "resolve_salt_mode", "pipeline.salt_probe"),
        (pipeline, "extract", "pipeline.extract"),
        (io, "file_fingerprint", "io.file_fingerprint"),
        (io, "idempotent_partition_overwrite", "io.write"),
        (checkpoint.ProgressLog, "commit", "checkpoint.commit"),
    ]
