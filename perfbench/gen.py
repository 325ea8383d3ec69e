"""Seeded input generators for the benchmark workloads.

The generators live here, not in the package, so that a change to the
program cannot silently change a workload: page payloads are encoded with
``schema.PagePayload`` (the documented ``sim://`` media format), and
everything else — document classes, page counts, vocabularies, planted
duplicate clusters — is defined in this file.

Work per input is fixed by the document *index*, never by the seed: the seed
only picks payload contents (hOCR seeds, colours, words, which ids belong to
which planted cluster). So two seeds give different inputs of the same size,
and run-to-run spread measures the system rather than the input.
"""

from __future__ import annotations

import hashlib
import random

# The 13 document classes of the extraction corpus, each exercising one
# branch of the pipeline (gates, blank skip, OSD garbling, deskew smudge,
# hOCR parse fallbacks, quarantine).
CLASSES = (
    "image_only", "mixed", "native_text", "multi_column", "blank_pages",
    "rotated", "skewed", "ligatures", "empty_words", "line_fallback",
    "tiny", "corrupt", "encrypted",
)
_LAYOUT = {
    "multi_column": "multi_column", "ligatures": "ligatures",
    "empty_words": "empty_words", "line_fallback": "line_fallback",
}
HUGE_EVERY = 100   # 1% of documents ...
HUGE_PAGES = 120   # ... are long image-only scans (page-count skew)
A4_W, A4_H = 2480, 3508

_NATIVE_WORDS = (
    "annual report summary section figure table appendix revenue region "
    "quarter growth margin forecast review audit policy contract clause "
    "party term notice schedule exhibit"
).split()


def _page_ref(rng: random.Random, cls: str, offset: int) -> str:
    from pdf2pdfocr_spark.schema import PagePayload

    n_colors = 2 + rng.randrange(200)
    if cls == "blank_pages" and offset % 2 == 1:
        n_colors = 1
    rotation = rng.choice((90, 180, 270)) if cls == "rotated" else 0
    skew = round(0.5 + rng.random() * 4.0, 2) if cls == "skewed" else 0.0
    return PagePayload(
        width_px=A4_W, height_px=A4_H, dpi=300, n_colors=n_colors,
        rotation=rotation, skew_pct=skew, layout=_LAYOUT.get(cls, "single"),
        hocr_seed=rng.randrange(1, 2**31),
    ).to_ref()


def _native_text(rng: random.Random) -> str:
    return " ".join(rng.choice(_NATIVE_WORDS) for _ in range(8))


def extract_doc(seed: int, i: int) -> dict:
    """Document ``i`` of the extraction corpus for ``seed``."""
    doc_id = f"doc-{i:07d}"
    huge = i % HUGE_EVERY == HUGE_EVERY - 1
    cls = "image_only" if huge else CLASSES[i % len(CLASSES)]
    if huge:
        n_pages = HUGE_PAGES
    elif cls == "tiny":
        n_pages = 1
    else:
        n_pages = 2 + (i // len(CLASSES)) % 4
    rng = random.Random(f"extract:{seed}:{doc_id}")
    spans = []
    for off in range(n_pages):
        text_span = cls == "native_text" or (cls == "mixed" and off % 2 == 0)
        if text_span:
            spans.append({"kind": "text", "text": _native_text(rng),
                          "media_ref": "", "offset": off})
            continue
        ref = _page_ref(rng, cls, off)
        if cls == "corrupt" and off == 0:
            ref = "sim://CORRUPTED"
        spans.append({"kind": "image", "text": "", "media_ref": ref,
                      "offset": off})
    meta = {"producer": "perfbench", "class": cls}
    if cls == "encrypted":
        meta["encrypted"] = "true"
    return {"doc_id": doc_id, "spans": spans, "meta": meta}


def extract_docs(seed: int, start: int, stop: int) -> list:
    return [extract_doc(seed, i) for i in range(start, stop)]


def page_sample(seed: int, n: int) -> list:
    """The first ``n`` readable, non-blank page refs of the corpus — the
    fixed sample the in-process OCR kernel is timed on."""
    from pdf2pdfocr_spark.schema import PagePayload

    refs, i = [], 0
    while len(refs) < n:
        for s in extract_doc(seed, i)["spans"]:
            if s["kind"] != "image":
                continue
            try:
                if not PagePayload.from_ref(s["media_ref"]).is_blank:
                    refs.append(s["media_ref"])
            except ValueError:
                pass
        i += 1
    return refs[:n]


# --------------------------------------------------------------------------
# near-duplicate text corpus
# --------------------------------------------------------------------------

WORDS_PER_DOC = 50
_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo fu ka ke ki ko ku la le li lo "
    "lu ma me mi mo mu na ne ni no nu pa pe pi po pu ra re ri ro ru sa se si "
    "so su ta te ti to tu va ve vi vo vu za ze zi zo zu"
).split()


def vocabulary(seed: int, size: int) -> list:
    rng = random.Random(f"vocab:{seed}")
    words: set = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES)
                          for _ in range(2 + rng.randrange(3))))
    return sorted(words)


N_CHAINS = 4


def group_sizes(n_docs: int) -> list:
    """Planted group sizes, fixed by ``n_docs`` alone: edit chains (their
    far ends share few shingles, so connected components needs several
    rounds), clusters of 2–6, and singletons for the rest (~75%). Several
    equal chains keep the round count fixed when the job misses a link
    that splits one of them."""
    sizes = [30] * N_CHAINS if n_docs >= 400 else [10]
    k = 0
    while sum(sizes) < n_docs // 4:
        sizes.append(2 + k % 5)
        k += 1
    sizes += [1] * (n_docs - sum(sizes))
    return sizes


def dedup_corpus(seed: int, n_docs: int, vocab_size: int) -> tuple:
    """(rows, groups): rows are {doc_id, text, source}; groups lists the doc
    ids of each planted group with more than one member.

    Cluster members are their base text with one or two words replaced;
    chain member k is member k-1 with one word replaced. Ids are a seeded
    permutation, so which id represents a cluster varies with the seed."""
    rng = random.Random(f"dedup:{seed}")
    vocab = vocabulary(seed, vocab_size)

    def edit(words: list, n: int) -> list:
        out = list(words)
        for _ in range(n):
            j = rng.randrange(len(out))
            new = rng.choice(vocab)
            while new == out[j]:
                new = rng.choice(vocab)
            out[j] = new
        return out

    texts, groups_ix, chains = [], [], []
    for gi, size in enumerate(group_sizes(n_docs)):
        base = [rng.choice(vocab) for _ in range(WORDS_PER_DOC)]
        members = [base]
        chain = gi < N_CHAINS and size >= 10
        for _ in range(size - 1):
            members.append(edit(members[-1] if chain else base,
                                1 if chain else 1 + rng.randrange(2)))
        ix = list(range(len(texts), len(texts) + size))
        if size > 1:
            groups_ix.append(ix)
        if chain:
            chains.append(ix)
        texts.extend(" ".join(m) for m in members)

    perm = list(range(len(texts)))
    rng.shuffle(perm)
    # ids ascend along each chain, so the number of connected-component
    # rounds (and Spark jobs) a chain costs does not depend on the seed
    for ix in chains:
        for j, p in zip(ix, sorted(perm[j] for j in ix)):
            perm[j] = p
    ids = [f"t-{p:07d}" for p in perm]
    rows = [{"doc_id": ids[j], "text": t, "source": f"src-{j % 4}"}
            for j, t in enumerate(texts)]
    rows.sort(key=lambda r: r["doc_id"])
    groups = [sorted(ids[j] for j in g) for g in groups_ix]
    return rows, groups


def planted_duplicates(groups: list) -> set:
    """Every planted member except its group's representative (min id) —
    what a perfect dedup drops."""
    return {d for g in groups for d in g[1:]}


# --------------------------------------------------------------------------
# parquet writers (pyarrow: the program under test only reads the files)
# --------------------------------------------------------------------------

def write_documents(rows: list, path: str, files: int = 4) -> None:
    """Documents table in the input_hint shape plus ``meta``, split into
    ``files`` parquet files so the scan has several splits."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(span), nullable=False),
        pa.field("meta", pa.map_(pa.string(), pa.string())),
    ])
    os.makedirs(path, exist_ok=True)
    for f in range(files):
        part = rows[f::files]
        tbl = pa.table({
            "doc_id": [r["doc_id"] for r in part],
            "spans": [r["spans"] for r in part],
            "meta": [list(r["meta"].items()) for r in part],
        }, schema=schema)
        pq.write_table(tbl, os.path.join(path, f"part-{f:05d}.parquet"))


def write_texts(rows: list, path: str, files: int = 4) -> None:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for f in range(files):
        part = rows[f::files]
        tbl = pa.table({k: [r[k] for r in part]
                        for k in ("doc_id", "text", "source")})
        pq.write_table(tbl, os.path.join(path, f"part-{f:05d}.parquet"))


def digest(rows: list) -> str:
    """Order-independent digest of generated rows, printed with every run so
    two runs can be shown to have measured the same input."""
    acc = 0
    for r in rows:
        h = hashlib.md5(repr(sorted(r.items())).encode()).hexdigest()
        acc = (acc + int(h[:16], 16)) % 2**64
    return f"{len(rows)}:{acc:016x}"
