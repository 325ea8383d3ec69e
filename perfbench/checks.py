"""Output checks: the landed tables must equal the pure-Python oracle.

Both sides reduce a table to an order-independent digest — a row count plus
the sum of a 60-bit md5 prefix per row — so the check needs one Spark
aggregation instead of collecting every span. The per-row string is built
identically on both sides: fields joined by US (\\x1f), spans by RS
(\\x1e), NULL as NUL (\\x00).
"""

from __future__ import annotations

import hashlib
import json
import os

_US, _RS, _NUL = "\x1f", "\x1e", "\x00"


def _row_hash(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _field(v) -> str:
    return _NUL if v is None else str(v)


def span_key(doc_id: str, spans: list) -> str:
    body = _RS.join(
        _US.join(_field(s[k]) for k in ("kind", "text", "media_ref", "offset"))
        for s in spans
    )
    return doc_id + _US + hashlib.md5(body.encode("utf-8")).hexdigest()


def py_digest(keys) -> tuple:
    keys = list(keys)
    return (len(keys), sum(_row_hash(k) for k in keys))


# --------------------------------------------------------------------------
# oracle (cached on disk per seed and program version)
# --------------------------------------------------------------------------

def _oracle_chunk(docs: list) -> list:
    from pdf2pdfocr_spark import oracle

    res = oracle.extract_corpus(docs, oracle.PipelineConfig())
    return [
        (d, r["skip_reason"], None if r["spans"] is None
         else span_key(d, r["spans"]))
        for d, r in res.items()
    ]


def program_version(repo: str) -> str:
    """Hash of the package sources: the oracle cache is invalidated by any
    program change."""
    h = hashlib.md5()
    pkg = os.path.join(repo, "pdf2pdfocr_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:12]


def oracle_results(docs: list, cache_path: str, workers: int) -> dict:
    """{doc_id: (skip_reason, span_key | None)} from ``oracle.extract_corpus``
    over ``docs``, computed in ``workers`` spawned processes and cached at
    ``cache_path``."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return {d: tuple(v) for d, v in json.load(f).items()}
    import multiprocessing

    chunks = [docs[i::workers] for i in range(workers)]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(workers)
    try:
        parts = pool.map(_oracle_chunk, chunks)
    finally:
        pool.close()
        pool.join()
    out = {d: (reason, key) for part in parts for d, reason, key in part}
    write_json(cache_path, out)
    return out


def write_json(path: str, obj) -> None:
    """Write ``obj`` to ``path`` atomically (a cache another run reads)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def expected(oracle: dict, doc_ids) -> dict:
    """Digests the landed tables must match for the given docs."""
    spans = [oracle[d][1] for d in doc_ids if oracle[d][0] is None]
    quarantined = [d + _US + oracle[d][0] for d in doc_ids
                   if oracle[d][0] is not None]
    processed = [d for d in doc_ids if oracle[d][0] is None]
    return {
        "spans": py_digest(spans),
        "quarantine": py_digest(quarantined),
        "done": py_digest(processed),
    }


# --------------------------------------------------------------------------
# Spark side: the same digests over landed tables (Spark built-ins only)
# --------------------------------------------------------------------------

def _sum_hash(df, key_col):
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.conv(F.substring(F.md5(key_col), 1, 15), 16, 10)
                  .cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return (int(row["n"]), int(row["h"]))


def _opt(col):
    from pyspark.sql import functions as F

    return F.coalesce(col.cast("string"), F.lit(_NUL))


def spans_digest(df) -> tuple:
    """Digest of a (doc_id, spans) frame, matching ``span_key``."""
    from pyspark.sql import functions as F

    body = F.concat_ws(_RS, F.transform(
        F.col("spans"),
        lambda s: F.concat_ws(_US, *[_opt(s[k]) for k in
                                     ("kind", "text", "media_ref", "offset")]),
    ))
    return _sum_hash(df, F.concat_ws(_US, F.col("doc_id"), F.md5(body)))


def pairs_digest(df, a: str, b: str) -> tuple:
    from pyspark.sql import functions as F

    return _sum_hash(df, F.concat_ws(_US, _opt(F.col(a)), _opt(F.col(b))))


def ids_digest(df, col: str = "doc_id") -> tuple:
    from pyspark.sql import functions as F

    return _sum_hash(df, F.col(col))


def rows_digest(df) -> tuple:
    """Digest of every column of every row (any column order)."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    return _sum_hash(df, F.concat_ws(_US, *[_opt(F.col(c)) for c in cols]))
