"""The benchmark's workloads: seeded inputs, one run, and its gates.

Each workload builds its inputs from the seed alone, runs the program's
public entry point once per `run()`, and checks the result with code
that does not share the program's Spark path (`check()` returns the
list of failed gates; empty means the run is correct).
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pyarrow.dataset as ds
import pyarrow.parquet as pq

# extract_job corpus: fixtures.gen_documents(EXTRACT_DOCS, seed) plus
# its 11-doc adversarial cohort
EXTRACT_DOCS = 2000
EXTRACT_BUCKETS = 16  # jobs/extract.py's --n-buckets default
# curate_funnel corpus: bench/curate_bench.gen_dup_corpus base size and
# planted near-dup rate, and its eval set for decontamination
CURATE_BASE_DOCS = 300
CURATE_DUP_RATE = 0.4
CURATE_EVAL_DOCS = 50
# the funnel's curate() arguments (jobs/curate.py defaults otherwise)
CURATE_ARGS = dict(
    near_dup="minhash", jaccard=0.8, decon_gram_words=8, max_top_bigram_frac=0.2
)
# curate() funnel counts whose drops must add up to n_input
FUNNEL_DROPS = (
    "dropped_extraction_failed",
    "dropped_quality",
    "dropped_exact_dups",
    "dropped_near_dups",
    "dropped_contaminated",
)


def load_curate_bench(root: str):
    """bench/curate_bench.py by path: `bench` is not a package, and the
    root's bench.py would shadow it."""
    spec = importlib.util.spec_from_file_location(
        "curate_bench", os.path.join(root, "bench", "curate_bench.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _row_key(doc_id, ok, method, spans) -> bytes:
    spans = None if spans is None else [
        [s["kind"], s["text"], s["media_ref"], s["offset"]] for s in spans
    ]
    payload = json.dumps([doc_id, bool(ok), method, spans], ensure_ascii=False)
    return hashlib.sha1(payload.encode("utf-8")).digest()


def extraction_digest(rows) -> tuple[int, str]:
    """Order-independent digest of (doc_id, extraction_successful,
    extraction_method, spans) rows: (row count, hex digest)."""
    keys = sorted(_row_key(*r) for r in rows)
    return len(keys), hashlib.sha256(b"".join(keys)).hexdigest()


def _oracle_slice(path: str, start: int, stop: int, out: str) -> None:
    """Row keys of one slice of the serial oracle, written to `out` as
    concatenated 20-byte digests (runs in a child process)."""
    from docling_pdf_spark.oracle import run_oracle

    table = pq.read_table(path).slice(start, stop - start)
    result = run_oracle(table)
    keys = [
        _row_key(*r)
        for r in zip(
            result["doc_id"], result["extraction_successful"], result["extraction_method"], result["spans"]
        )
    ]
    with open(out, "wb") as f:
        f.write(b"".join(keys))


def cache_path(cache_dir: str, kind: str, corpus: str, root: str) -> str:
    """Where a result derived from `corpus` is cached: keyed by the
    corpus file and by the program's source, so the same seed on the
    same code finds it again and changed code never does."""
    h = hashlib.sha256()
    with open(corpus, "rb") as f:
        h.update(f.read())
    for pattern in ("docling_pdf_spark/**/*.py", "jobs/*.py", "bench/curate_bench.py"):
        for path in sorted(glob.glob(os.path.join(root, pattern), recursive=True)):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return os.path.join(cache_dir, f"{kind}-{h.hexdigest()}.json")


def read_json(path: str):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def write_json(path: str, rec) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(rec, f)
    os.replace(tmp, path)


def oracle_digest(root: str, corpus: str, cached: str, procs: int) -> tuple[int, str]:
    """Digest of `oracle.run_oracle` over the corpus, cached at `cached`.
    The serial oracle is split across `procs` child processes, each
    started here and waited for (killed if this one fails first); each
    slice is still extracted one doc at a time."""
    if not os.path.exists(cached):
        n = pq.read_metadata(corpus).num_rows
        step = -(-n // procs)
        parts = os.path.join(os.path.dirname(corpus), "oracle-parts")
        os.makedirs(parts, exist_ok=True)
        tasks = [(i, min(n, i + step), os.path.join(parts, f"{i}.keys")) for i in range(0, n, step)]
        children = []
        try:
            for start, stop, out in tasks:
                cmd = [sys.executable, os.path.abspath(__file__), "oracle-slice", root, corpus, str(start), str(stop), out]
                children.append(subprocess.Popen(cmd))
            for child in children:
                if child.wait() != 0:
                    raise RuntimeError(f"oracle slice {child.args[-3:-1]} exited {child.returncode}")
        finally:
            for child in children:
                if child.poll() is None:
                    child.kill()
                    child.wait()
        keys = []
        for _start, _stop, out in tasks:
            with open(out, "rb") as f:
                data = f.read()
            keys += [data[i : i + 20] for i in range(0, len(data), 20)]
        shutil.rmtree(parts, ignore_errors=True)
        keys.sort()
        write_json(cached, {"n": len(keys), "digest": hashlib.sha256(b"".join(keys)).hexdigest()})
    rec = read_json(cached)
    return rec["n"], rec["digest"]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class ExtractJob:
    """`pipeline.run_extraction` (the jobs/extract.py path) on a fresh
    output and checkpoint directory each run."""

    name = "extract_job"
    # The first run of a session includes most of the JIT's work and
    # spread 0.2 IQR/median over seeds; the third and later runs of the
    # same processes settle, so two untimed runs come first.
    warmup_runs = 2
    # Its time is the mapInArrow stage, where each task slot keeps two
    # processes busy: the JVM task thread and the Python worker it feeds.
    # At one slot per core the run's CPU time grew with the contention
    # and spread three times as much over seeds as at one per two cores.
    cores_per_slot = 2

    def __init__(self, root: str, work: str, cache: str, seed: int, cores: int) -> None:
        self.root, self.work, self.cache, self.seed = root, work, cache, seed
        self.corpus = os.path.join(work, "input", "documents.parquet")
        self.num_partitions = 3 * cores

    def prepare(self) -> None:
        from docling_pdf_spark.fixtures import write_corpus

        os.makedirs(os.path.dirname(self.corpus), exist_ok=True)
        write_corpus(self.corpus, EXTRACT_DOCS, seed=self.seed)
        self.n_docs = pq.read_metadata(self.corpus).num_rows
        self.expected = oracle_digest(
            self.root,
            self.corpus,
            cache_path(self.cache, "oracle", self.corpus, self.root),
            len(os.sched_getaffinity(0)),
        )

    def run(self, spark) -> dict:
        from docling_pdf_spark.pipeline import run_extraction

        out = self._fresh("out")
        log = run_extraction(
            spark,
            self.corpus,
            out,
            self._fresh("ckpt"),
            n_buckets=EXTRACT_BUCKETS,
            num_partitions=self.num_partitions,
        )
        return {"output": out, "manifests": log.all_manifests()}

    def check(self, result: dict) -> list[str]:
        errors = []
        n_manifest = sum(m.n_docs for m in result["manifests"])
        if n_manifest != self.n_docs:
            errors.append(f"manifests count {n_manifest} docs, input has {self.n_docs}")
        table = ds.dataset(result["output"], format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "extraction_successful", "extraction_method", "spans"]
        )
        got = extraction_digest(zip(*(table.column(c).to_pylist() for c in table.column_names)))
        if got != self.expected:
            errors.append(f"output digest {got} != serial oracle {self.expected}")
        return errors

    def _fresh(self, kind: str) -> str:
        # the previous run's directories go before the next run starts,
        # so at most one run's output is on disk
        path = os.path.join(self.work, "runs", kind)
        shutil.rmtree(path, ignore_errors=True)
        return path


class CurateFunnel:
    """`jobs.curate.curate` on the dup-heavy corpus of
    bench/curate_bench.py: MinHash near-dup at Jaccard 0.8, 8-gram
    decontamination, and one Gopher repetition gate."""

    name = "curate_funnel"
    # Its first run is steadier than its later ones (0.09 IQR/median
    # over ten seeds), so it is timed cold, as jobs/curate.py runs it.
    warmup_runs = 0
    # Most of its time is JVM shuffles and dedup, one thread per slot;
    # at one slot per two cores its wall time spread more, not less.
    cores_per_slot = 1

    def __init__(self, root: str, work: str, cache: str, seed: int, cores: int) -> None:
        self.root, self.work, self.cache, self.seed = root, work, cache, seed
        self.corpus = os.path.join(work, "input", "documents.parquet")
        self.eval_set = os.path.join(work, "input", "eval.parquet")

    def prepare(self) -> None:
        cb = load_curate_bench(self.root)
        os.makedirs(os.path.dirname(self.corpus), exist_ok=True)
        self.n_docs = cb.gen_dup_corpus(self.corpus, CURATE_BASE_DOCS, CURATE_DUP_RATE, seed=self.seed)
        cb.gen_eval_set(self.eval_set, CURATE_BASE_DOCS, CURATE_EVAL_DOCS, seed=self.seed)
        # the first run's funnel counts on this corpus, in this or an
        # earlier process, are the reference every later run must match
        self.reference = cache_path(self.cache, "funnel", self.corpus, self.root)

    def run(self, spark) -> dict:
        from jobs.curate import curate

        out = os.path.join(self.work, "runs", "curated")
        shutil.rmtree(out, ignore_errors=True)
        funnel = curate(spark, self.corpus, out, decon_eval=self.eval_set, **CURATE_ARGS)
        return {"output": out, "funnel": funnel}

    def check(self, result: dict) -> list[str]:
        errors = []
        funnel = result["funnel"]
        counts = {k: v for k, v in funnel.items() if k != "stages"}
        if not os.path.exists(self.reference):
            write_json(self.reference, counts)
        expected = read_json(self.reference)
        if counts != expected:
            errors.append(f"funnel counts {counts} differ from the first run's {expected}")
        if funnel["n_input"] != self.n_docs:
            errors.append(f"funnel n_input {funnel['n_input']} != corpus {self.n_docs}")
        dropped = sum(funnel[k] for k in FUNNEL_DROPS)
        if dropped + funnel["n_curated"] != funnel["n_input"]:
            errors.append(
                f"drops {dropped} + kept {funnel['n_curated']} != n_input {funnel['n_input']}"
            )
        written = ds.dataset(result["output"], format="parquet").count_rows()
        if written != funnel["n_curated"]:
            errors.append(f"curated output has {written} rows, funnel says {funnel['n_curated']}")
        return errors


WORKLOADS = {w.name: w for w in (ExtractJob, CurateFunnel)}


if __name__ == "__main__":
    # python3 workloads.py oracle-slice <root> <corpus> <start> <stop> <out>
    if len(sys.argv) != 7 or sys.argv[1] != "oracle-slice":
        raise SystemExit("usage: workloads.py oracle-slice ROOT CORPUS START STOP OUT")
    sys.path.insert(0, sys.argv[2])
    _oracle_slice(sys.argv[3], int(sys.argv[4]), int(sys.argv[5]), sys.argv[6])
