"""Seeded input staging for the benchmark, done before any timed work.

Every workload's input is a pure function of ``(generator version, seed,
size)``: the seed picks a slot, and the slot picks a contiguous range of
``aide_spark.generator.gen_doc`` indices. ``gen_doc(i)`` depends on ``i``
alone and its class mix repeats every 36 indices, so every slot has the same
mix of banks and validator-taxonomy classes with different content. Slots
wrap at ``SLOTS`` so that each one has a golden digest on file
(``golden.json``, written by ``golden.py``).

Corpora are written with pyarrow, not Spark, so staging neither warms the
benchmark's JVM nor counts in its set-up time. A staged directory is reused
by later runs with the same key.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from aide_spark.generator import CORRECT_PASSWORD, GENERATOR_VERSION, gen_doc

SLOTS = 32         # golden-digest slots
SLOT_DOCS = 1008   # docs per slot: a multiple of 36, the period of gen_doc's
                   # class mix (banks round-robin 3, taxonomy cycle 4 * 9)

# error_code each taxonomy class is quarantined with; classes absent here
# (hybrid, encrypted_ok) are valid and must produce spans
TAXONOMY_ERROR = {
    "CORRUPTED": "CORRUPTED",
    "SCANNED": "NO_TEXT_CONTENT",
    "ENCRYPTEDWRONGPW": "WRONG_PASSWORD",
    "ENCRYPTEDNOPW": "ENCRYPTED_NO_PASSWORD",
    "LARGEFILE": "FILE_TOO_LARGE",
    "EMPTY": "EMPTY_PDF",
    "MANYPAGES": "TOO_MANY_PAGES",
}

_SPAN = pa.struct(
    [
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), False),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), False),
        pa.field("spans", pa.list_(_SPAN)),
        pa.field("bank_id", pa.string()),
        pa.field("password", pa.string()),
        pa.field("encrypted", pa.bool_()),
        pa.field("declared_size_mb", pa.float64()),
        pa.field("pdf_meta", pa.map_(pa.string(), pa.string())),
    ]
)


def index_range(seed: int, n_docs: int) -> range:
    """The gen_doc indices of ``seed``'s corpus: whole slots, so that its
    golden digest is the sum of the slots' digests."""
    if n_docs % SLOT_DOCS:
        raise ValueError(f"n_docs must be a multiple of {SLOT_DOCS}")
    start = (seed % (SLOTS * SLOT_DOCS // n_docs)) * n_docs
    return range(start, start + n_docs)


def taxonomy_class(doc_id: str) -> str | None:
    """'BAD-<CLASS>-<i>' → CLASS; None for bank docs."""
    return doc_id.split("-")[1] if doc_id.startswith("BAD-") else None


def expected_quarantine(doc_ids) -> dict[str, int]:
    """error_code histogram that gen_doc's taxonomy implies for ``doc_ids``."""
    hist = Counter(TAXONOMY_ERROR.get(taxonomy_class(d)) for d in doc_ids)
    hist.pop(None, None)
    return dict(hist)


def _docs_table(indices) -> pa.Table:
    rows = [gen_doc(i) for i in indices]
    cols = {f.name: [] for f in DOCS_SCHEMA}
    for r in rows:
        cols["doc_id"].append(r["doc_id"])
        cols["spans"].append(
            None if r["spans"] is None
            else [{"kind": k, "text": t, "media_ref": m, "offset": o}
                  for (k, t, m, o) in r["spans"]]
        )
        for c in ("bank_id", "password", "encrypted", "declared_size_mb"):
            cols[c].append(r[c])
        cols["pdf_meta"].append(None if r["pdf_meta"] is None else list(r["pdf_meta"].items()))
    return pa.table(cols, schema=DOCS_SCHEMA)


def _write_partitioned(table: pa.Table, path: str, files_per_bank: int) -> None:
    """Hive layout partitioned by bank_id, the layout bench.py stages: each
    parser branch's scan prunes to its own directory. Several files per bank
    give the scan as many tasks as a Spark-written corpus would have."""
    banks = table.column("bank_id").to_pylist()
    for bank in sorted(set(banks), key=str):
        part = os.path.join(
            path, f"bank_id={bank if bank is not None else '__HIVE_DEFAULT_PARTITION__'}"
        )
        os.makedirs(part)
        idx = [i for i, b in enumerate(banks) if b == bank]
        sub = table.take(idx).drop_columns(["bank_id"])
        step = -(-len(idx) // files_per_bank)
        for k in range(0, len(idx), step):
            pq.write_table(sub.slice(k, step), os.path.join(part, f"part-{k // step:05d}.parquet"))


def _publish(tmp: str, path: str) -> None:
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    if os.path.exists(path):  # staged concurrently by another run; keep theirs
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, path)


def stage_corpus(work: str, seed: int, n_docs: int, files_per_bank: int) -> str:
    """Stage ``seed``'s corpus once; return its directory."""
    start = index_range(seed, n_docs).start
    path = os.path.join(work, "corpus", f"g{GENERATOR_VERSION}-i{start}-n{n_docs}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    _write_partitioned(_docs_table(index_range(seed, n_docs)), tmp, files_per_bank)
    _publish(tmp, path)
    return path


def stage_resume(work: str, seed: int, n_docs: int, redeliver_every: int,
                 files_per_bank: int) -> tuple[str, str, int]:
    """Stage the spans_resume inputs once; return (batch dir, prior store, redelivered).

    The batch is ``seed``'s corpus plus every ``redeliver_every``-th doc of
    the previous slot's corpus: the queue's at-least-once redelivery. The
    prior store is the SnapshotStore state a committed earlier batch of
    those previous-slot docs leaves for the resume anti-join to read: their
    lineage rows and the commit record (its spans are never read)."""
    start = index_range(seed, n_docs).start
    root = os.path.join(
        work, "resume", f"g{GENERATOR_VERSION}-i{start}-n{n_docs}-r{redeliver_every}")
    again = list(index_range(seed + SLOTS - 1, n_docs))[::redeliver_every]
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        tmp = f"{root}.tmp-{uuid.uuid4().hex[:8]}"
        batch = list(index_range(seed, n_docs)) + again
        _write_partitioned(_docs_table(batch), os.path.join(tmp, "batch"), files_per_bank)
        ids = [gen_doc(i)["doc_id"] for i in again]
        codes = [TAXONOMY_ERROR.get(taxonomy_class(d), "VALID") for d in ids]
        lineage = pa.table({
            "doc_id": ids,
            "batch_id": ["prior"] * len(ids),
            "status": ["committed" if c == "VALID" else "quarantined" for c in codes],
            "error_code": codes,
        })
        prior = os.path.join(tmp, "prior")
        os.makedirs(os.path.join(prior, "lineage", "batch=prior"))
        os.makedirs(os.path.join(prior, "_commits"))
        pq.write_table(lineage, os.path.join(prior, "lineage", "batch=prior", "part-00000.parquet"))
        with open(os.path.join(prior, "_commits", "prior.json"), "w") as fh:
            json.dump({"batch_id": "prior", "ts": 0.0, "docs": len(ids), "spans": 0}, fh)
        _publish(tmp, root)
    return os.path.join(root, "batch"), os.path.join(root, "prior"), len(again)


# -- pdf_ingest ---------------------------------------------------------------

# ciphers the encrypted docs alternate between; the few AESV3 docs are
# placed explicitly (see _pdf_plan)
PDF_CIPHERS = ("rc4", "aesv2")


def _pdf_plan(indices, n_aesv3: int, n_long: int):
    """Per encodable doc: [doc_id, spans, generator password, cipher or None,
    generator encrypted flag]. The generator's encrypted docs keep their
    class (correct, wrong or missing password); every fifth bank doc is
    encrypted too, with the correct password."""
    plan = []
    for k, i in enumerate(indices):
        d = gen_doc(i)
        if d["spans"] is None:
            continue  # CORRUPTED has no content to encode
        cipher = None
        if d["encrypted"]:
            cipher = PDF_CIPHERS[k % len(PDF_CIPHERS)]
        elif d["bank_id"] is not None and k % 5 == 1:
            cipher = PDF_CIPHERS[(k // 5) % len(PDF_CIPHERS)]
        plan.append([d["doc_id"], d["spans"], d["password"], cipher, d["encrypted"]])
    # AESV3: the first n_aesv3 valid bank docs with a correct password
    bank_rows = [p for p in plan if taxonomy_class(p[0]) is None]
    for p in bank_rows[:n_aesv3]:
        p[3] = "aesv3"
    # long statements: the bank grammars' transaction lines repeated over
    # >=100 pages (under the 200-page gate), still well-formed statements
    for p in bank_rows[n_aesv3:n_aesv3 + n_long]:
        p[1] = _lengthen(p[1], pages=120)
    return plan


def _lengthen(spans, pages: int):
    from aide_spark.schemas import PAGE_BREAK

    body = [s for s in spans if not (s[0] == "text" and s[1] == PAGE_BREAK)]
    out = []
    for p in range(pages):
        if p:
            out.append(("text", PAGE_BREAK, "", 0))
        out.extend(body if p == 0 else body[-8:])
    return [(k, t, m, o) for o, (k, t, m, _) in enumerate(out)]


def stage_pdfs(work: str, seed: int, n_docs: int, n_aesv3: int, n_long: int) -> tuple[str, str, list]:
    """Stage ``seed``'s corpus as real PDF files plus a (doc_id, password)
    parquet table, the inputs of ``scripts/run_extraction.build_raw_docs``.
    Returns (pdf dir, passwords parquet, per-doc plan rows)."""
    from aide_spark.sources.pdf_codec import encode_pdf

    indices = index_range(seed, SLOT_DOCS)[:n_docs]  # the head of the seed's slot
    root = os.path.join(
        work, "pdf", f"g{GENERATOR_VERSION}-i{indices.start}-n{n_docs}-a{n_aesv3}-l{n_long}")
    plan = _pdf_plan(indices, n_aesv3, n_long)
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        tmp = f"{root}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(os.path.join(tmp, "pdf"))
        ids, pws = [], []
        for doc_id, spans, password, cipher, encrypted in plan:
            kw = {}
            if cipher is not None:
                kw = dict(password=CORRECT_PASSWORD, cipher=cipher,
                          security_rev=3 if cipher == "rc4" else 2)
            with open(os.path.join(tmp, "pdf", f"{doc_id}.pdf"), "wb") as fh:
                fh.write(encode_pdf(spans, **kw))
            # plain docs get no password; encrypted generator docs keep the
            # generator's (possibly wrong or missing) password; docs the
            # benchmark encrypted get the correct one
            pw = password if encrypted else (CORRECT_PASSWORD if cipher else None)
            if pw is not None:
                ids.append(doc_id)
                pws.append(pw)
        pq.write_table(pa.table({"doc_id": ids, "password": pws}), os.path.join(tmp, "passwords.parquet"))
        _publish(tmp, root)
    return os.path.join(root, "pdf"), os.path.join(root, "passwords.parquet"), plan
