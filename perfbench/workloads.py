"""The three workloads: inputs, timed call, output check and layer specs.

extract_corpus  the flagship OCR-to-spans job over an interleaved corpus in
                which all 13 document classes appear round-robin and 1% of
                documents are 120-page scans. ``pipeline.run_ocr`` (hOCR
                kernel plus the Arrow boundary) and the checkpointed write
                do the work and dedup none, so kernel and boundary changes
                show here.
dedup_corpus    the chained dedup job over a text corpus with planted
                near-duplicate clusters and edit chains. No Python UDF:
                signatures, candidate joins, connected-component rounds and
                shuffles dominate, and OCR changes must not move it.
resume_extract  a resubmission of the extraction job over extract_corpus's
                documents (A) plus ~10% new ones (B), into an output that
                already holds a committed run over A. Lineage reads (done
                set, resume anti-join) and fixed per-job cost dominate, so a
                change that speeds the big OCR/write path but slows
                resubmission shows here.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from perfbench import checks, gen

SIZES = {
    # Fixed per-job cost dominates at these sizes: on a contended 4-core
    # host a warm extract_corpus call (~1.5k OCR pages, 18 Spark jobs) took
    # 10-16 s and a warm dedup_corpus call (~100 Spark jobs) 16-20 s, the
    # same as at 60% of the input. A cold call costs about twice that, so an
    # invocation timing one cold call (JVM start, the call, its checks)
    # takes about a minute there and ~50 invocations fit in under an hour.
    "full": {"extract_docs": 400, "resume_new": 40, "dedup_docs": 1000,
             "vocab": 12000, "kernel_pages": 32},
    # smoke tests
    "tiny": {"extract_docs": 40, "resume_new": 6, "dedup_docs": 160,
             "vocab": 2000, "kernel_pages": 4},
}
# planted-duplicate quality below these floors fails the output check
MIN_DUP_RECALL = 0.8
MIN_DUP_PRECISION = 0.8


def dir_bytes(path: str) -> tuple:
    """(bytes, files) of every regular file under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(root, f))
            n += 1
    return size, n


class CheckFailed(Exception):
    pass


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Workload:
    root_name = ""

    def __init__(self, seed: int, size: dict, work: str, oracle_dir: str,
                 workers: int):
        self.seed, self.size, self.work = seed, size, work
        self.oracle_dir, self.workers = oracle_dir, workers
        self.input_digest = ""

    def out_dir(self, tag) -> str:
        return os.path.join(self.work, f"out-{tag}")

    def before_rep(self, tag) -> str:
        out = self.out_dir(tag)
        shutil.rmtree(out, ignore_errors=True)
        return out

    def after_rep(self, tag) -> None:
        shutil.rmtree(self.out_dir(tag), ignore_errors=True)

    def kernel_refs(self) -> list:
        return gen.page_sample(self.seed, self.size["kernel_pages"])

    def set_up(self, spark) -> None:
        """Work the workload needs in the session before its first rep;
        counted in setup_s."""

    def check_set_up(self, spark) -> None:
        """Checks what ``set_up`` made, outside setup time."""

    def after_trace(self, out: str) -> dict:
        """Counts read from the traced call's output once it has finished."""
        return {}


# --------------------------------------------------------------------------
# extraction workloads
# --------------------------------------------------------------------------

def _oracle(w: Workload, docs: list, tag: str) -> dict:
    path = os.path.join(w.oracle_dir, f"{tag}-seed{w.seed}-{len(docs)}.json")
    return checks.oracle_results(docs, path, w.workers)


def _ocr_pages(docs: list, oracle: dict) -> int:
    """Non-blank page images of processed docs: the pages sent to OCR."""
    from pdf2pdfocr_spark.schema import PagePayload

    return sum(
        1
        for d in docs if oracle[d["doc_id"]][0] is None
        for s in d["spans"]
        if s["kind"] == "image"
        and not PagePayload.from_ref(s["media_ref"]).is_blank
    )


def extraction_specs(spark, out: str, before: tuple) -> list:
    """Layer wrappers for ``jobs.run_extraction_job``; ``before`` is the
    (bytes, files) already under ``out`` when the traced call starts."""
    from pyspark.sql import functions as F

    from pdf2pdfocr_spark import lineage, pipeline

    def gates(df, a, kw, rows):
        return {"pipeline.apply_gates.rows_in": rows,
                "pipeline.apply_gates.quarantined":
                    df.filter(F.col("skip_reason").isNotNull()).count()}

    def pages(df, a, kw, rows):
        return {"pipeline.explode_pages.pages": rows}

    def ocr(df, a, kw, rows):
        snap = kw["progress"].snapshot() if kw.get("progress") else {}
        return {"pipeline.run_ocr.pages_in": snap.get("ocr_pages_in", 0),
                "pipeline.run_ocr.pages_err": snap.get("ocr_pages_err", 0)}

    def written(res, a, kw, rows):
        size, files = dir_bytes(out)
        return {"lineage.write_checkpointed.bytes": size - before[0],
                "lineage.write_checkpointed.files": files - before[1]}

    def resume(df, a, kw, rows):
        done = lineage.done_doc_ids(spark, out)
        return {"lineage.resume_filter.done_rows":
                    0 if done is None else done.count(),
                "lineage.resume_filter.admitted_rows": rows}

    return [
        (lineage, "resume_filter", "lineage.resume_filter", resume),
        (pipeline, "apply_gates", "pipeline.apply_gates", gates),
        (pipeline, "explode_pages", "pipeline.explode_pages", pages),
        (pipeline, "salted_repartition", "pipeline.explode_pages", None),
        (pipeline, "run_ocr", "pipeline.run_ocr", ocr),
        (pipeline, "reassemble", "pipeline.reassemble", None),
        (lineage, "write_checkpointed", "lineage.write_checkpointed", written),
    ]


class ExtractCorpus(Workload):
    root_name = "jobs.run_extraction_job"

    def prepare(self) -> None:
        n = self.size["extract_docs"]
        self.docs = gen.extract_docs(self.seed, 0, n)
        self.input = os.path.join(self.work, "input")
        gen.write_documents(self.docs, self.input)
        self.input_digest = gen.digest(self.docs)
        self.oracle = _oracle(self, self.docs, "extract")
        self.expect = checks.expected(self.oracle,
                                      [d["doc_id"] for d in self.docs])
        self.pages = _ocr_pages(self.docs, self.oracle)
        self.base_bytes = (0, 0)

    def call(self, spark, out: str, run_id: str) -> dict:
        from pdf2pdfocr_spark import jobs
        from pdf2pdfocr_spark.oracle import PipelineConfig

        docs = spark.read.parquet(self.input)
        return jobs.run_extraction_job(spark, docs, out, run_id,
                                       PipelineConfig())

    def check(self, spark, out: str, run_id: str, res: dict) -> dict:
        spans = spark.read.parquet(f"{out}/spans")
        quar = spark.read.parquet(f"{out}/quarantine")
        got = checks.spans_digest(spans)
        _require(got == self.expect["spans"],
                 f"spans digest {got} != oracle {self.expect['spans']}")
        got = checks.pairs_digest(quar, "doc_id", "skip_reason")
        _require(got == self.expect["quarantine"],
                 f"quarantine {got} != oracle {self.expect['quarantine']}")
        return {"docs": len(self.docs), "pages": self.pages,
                "bytes": dir_bytes(out)[0]}

    def layer_specs(self, spark, out: str) -> list:
        return extraction_specs(spark, out, self.base_bytes)


class ResumeExtract(ExtractCorpus):
    def prepare(self) -> None:
        super().prepare()
        n_a, n_b = self.size["extract_docs"], self.size["resume_new"]
        self.docs_a = self.docs
        self.docs_b = gen.extract_docs(self.seed, n_a, n_a + n_b)
        self.docs = self.docs_a + self.docs_b
        self.input_a, self.input = self.input, os.path.join(self.work,
                                                            "input-ab")
        gen.write_documents(self.docs, self.input)
        self.input_digest = gen.digest(self.docs)
        self.oracle.update(_oracle(self, self.docs_b, "extract-new"))
        ids_a = [d["doc_id"] for d in self.docs_a]
        ids_b = [d["doc_id"] for d in self.docs_b]
        self.expect_a = checks.expected(self.oracle, ids_a)
        self.expect_b = checks.expected(self.oracle, ids_b)
        self.expect = checks.expected(self.oracle, ids_a + ids_b)
        self.pages = _ocr_pages(self.docs_b, self.oracle)
        self.template = os.path.join(self.work, "template")

    def set_up(self, spark) -> None:
        """The template run over A, committed by the code under test."""
        from pdf2pdfocr_spark import jobs
        from pdf2pdfocr_spark.oracle import PipelineConfig

        shutil.rmtree(self.template, ignore_errors=True)
        jobs.run_extraction_job(spark, spark.read.parquet(self.input_a),
                                self.template, "template", PipelineConfig())
        self.base_bytes = dir_bytes(self.template)

    def check_set_up(self, spark) -> None:
        got = checks.spans_digest(spark.read.parquet(f"{self.template}/spans"))
        _require(got == self.expect_a["spans"],
                 f"template spans {got} != oracle {self.expect_a['spans']}")

    def before_rep(self, tag) -> str:
        out = super().before_rep(tag)
        shutil.copytree(self.template, out)
        return out

    def check(self, spark, out: str, run_id: str, res: dict) -> dict:
        from pyspark.sql import functions as F

        spans = spark.read.parquet(f"{out}/spans")
        row = spans.agg(F.count("*").alias("n"),
                        F.count_distinct("doc_id").alias("d")).collect()[0]
        _require(row["n"] == row["d"], f"{row['n'] - row['d']} docs appended twice")
        done = spark.read.parquet(f"{out}/done_ids").select("doc_id").distinct()
        got = checks.ids_digest(done)
        _require(got == self.expect["done"],
                 f"done set {got} != A∪B {self.expect['done']}")
        mine = spans.filter(F.col("run_id") == run_id)
        got = checks.spans_digest(mine)
        _require(got == self.expect_b["spans"],
                 f"new spans {got} != oracle(B) {self.expect_b['spans']}")
        quar = spark.read.parquet(f"{out}/quarantine").filter(
            F.col("run_id") == run_id)
        got = checks.pairs_digest(quar, "doc_id", "skip_reason")
        _require(got == self.expect["quarantine"],
                 f"quarantine {got} != oracle {self.expect['quarantine']}")
        docs = self.expect_b["spans"][0] + self.expect["quarantine"][0]
        return {"docs": docs, "pages": self.pages,
                "bytes": dir_bytes(out)[0] - self.base_bytes[0]}


# --------------------------------------------------------------------------
# dedup workload
# --------------------------------------------------------------------------

class DedupCorpus(Workload):
    root_name = "jobs.run_dedup_job"

    def prepare(self) -> None:
        self.rows, groups = gen.dedup_corpus(
            self.seed, self.size["dedup_docs"], self.size["vocab"])
        self.planted = gen.planted_duplicates(groups)
        self.input = os.path.join(self.work, "input")
        gen.write_texts(self.rows, self.input)
        self.input_digest = gen.digest(self.rows)
        # the output digest of the first checked run of this input under
        # this program version; every later run, in this invocation or a
        # later one, must reproduce it
        self.reference_path = os.path.join(
            self.oracle_dir, f"dedup-seed{self.seed}-{len(self.rows)}.json")
        self.reference = None
        if os.path.exists(self.reference_path):
            with open(self.reference_path) as f:
                self.reference = json.load(f)
        self.quality: dict = {}

    def call(self, spark, out: str, run_id: str) -> dict:
        from pdf2pdfocr_spark import jobs

        return jobs.run_dedup_job(spark, spark.read.parquet(self.input),
                                  out, run_id)

    def check(self, spark, out: str, run_id: str, res: dict) -> dict:
        from pyspark.sql import functions as F

        _require(res["docs_in"] == len(self.rows),
                 f"docs_in {res['docs_in']} != {len(self.rows)}")
        clusters = spark.read.parquet(f"{out}/clusters")
        shards = spark.read.parquet(f"{out}/shards")
        digest = [list(checks.pairs_digest(clusters, "doc_id", "cluster_id")),
                  list(checks.rows_digest(shards))]
        _require(self.reference in (None, digest),
                 f"output digest {digest} differs from the first run "
                 f"{self.reference}")
        dropped = {r["doc_id"] for r in clusters.filter(
            F.col("doc_id") != F.col("cluster_id")).select("doc_id").collect()}
        _require(len(dropped) == res["docs_dropped"],
                 f"job reports {res['docs_dropped']} dropped, clusters "
                 f"table drops {len(dropped)}")
        hit = len(dropped & self.planted)
        self.quality = {
            "dup_recall": hit / len(self.planted) if self.planted else 1.0,
            "dup_precision": hit / len(dropped) if dropped else 1.0,
        }
        _require(self.quality["dup_recall"] >= MIN_DUP_RECALL,
                 f"dup_recall {self.quality['dup_recall']:.3f}")
        _require(self.quality["dup_precision"] >= MIN_DUP_PRECISION,
                 f"dup_precision {self.quality['dup_precision']:.3f}")
        if self.reference is None:
            self.reference = digest
            checks.write_json(self.reference_path, digest)
        return {"docs": len(self.rows), "pages": 0,
                "bytes": dir_bytes(out)[0]}

    def layer_specs(self, spark, out: str) -> list:
        from pdf2pdfocr_spark.operators import dedup, sampling

        def rows(df, a, kw, n):
            return {"operators.dedup.signatures.rows": n}

        def pairs(df, a, kw, n):
            return {"operators.dedup.pairs.pairs": n}

        sig = "operators.dedup.signatures"
        return [
            (dedup, "with_shingles", sig, rows),
            (dedup, "minhash_band_rows", sig, rows),
            (dedup, "simhash_chunk_rows", sig, rows),
            (dedup, "minhash_lsh_pairs", "operators.dedup.pairs", pairs),
            (dedup, "simhash_near_dups", "operators.dedup.pairs", pairs),
            (dedup, "duplicate_clusters",
             "operators.dedup.duplicate_clusters", None),
            (sampling, "pack_shards", "operators.sampling.pack_shards", None),
        ]

    def after_trace(self, out: str) -> dict:
        return {"operators.sampling.pack_shards.bytes":
                dir_bytes(f"{out}/shards")[0]}


WORKLOADS = {
    "extract_corpus": ExtractCorpus,
    "dedup_corpus": DedupCorpus,
    "resume_extract": ResumeExtract,
}


def kernel_bench(refs: list, reps: int = 3) -> dict:
    """In-process OCR kernel on a fixed page sample: median µs per page for
    the whole engine call and for hOCR synthesis and parsing alone."""
    from pdf2pdfocr_spark import hocr
    from pdf2pdfocr_spark.ocr_engine import OcrConfig, get_engine
    from pdf2pdfocr_spark.schema import PagePayload

    engine = get_engine(OcrConfig())
    payloads = [PagePayload.from_ref(r) for r in refs]
    page, synth, parse = [], [], []
    for _ in range(reps):
        t = time.perf_counter()
        for p in payloads:
            engine.ocr_page_with_repair(p)
        page.append(time.perf_counter() - t)
        t = time.perf_counter()
        docs = [hocr.synth_hocr(p.hocr_seed, p.width_px, p.height_px,
                                p.layout, p.rotation, p.skew_pct)
                for p in payloads]
        synth.append(time.perf_counter() - t)
        t = time.perf_counter()
        for d in docs:
            hocr.parse_hocr(d)
        parse.append(time.perf_counter() - t)
    per = 1e6 / len(payloads)
    return {"ocr_engine.page_us": statistics.median(page) * per,
            "hocr.synth_us": statistics.median(synth) * per,
            "hocr.parse_us": statistics.median(parse) * per}

