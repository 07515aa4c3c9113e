"""V1-V10 — per-document validation stage, fully columnar (SURVEY.md §2.2).

Re-expresses ``/root/reference/api/validators/pdf_validator.py`` over the
spans input. The reference's fail-fast predicate ordering (cheapest first:
integrity → size → encryption → page count → content, pdf_validator.py:44-73)
is preserved as a single ``when`` ladder — one narrow projection, no shuffle,
runs BEFORE the parse stage so invalid docs never reach the expensive parser
(manual predicate-pushdown across the UDF-free parse boundary, SURVEY.md §4).

Spans-model analogues:
* NOT_PDF/CORRUPTED magic-bytes check   → spans array is NULL        (V1)
* file-size gate  (> 25 MB)             → declared_size_mb column    (V2)
* decrypt-with-trimmed-retry            → password equality vs the fixture
  password, with the ``strip()`` retry (pdf_validator.py:113-134)    (V4)
* page gates (0 / > 200)                → form-feed page count       (V5)
* text/scanned/hybrid classification    → first-5-pages text length +
  media-span probe (pdf_validator.py:199-250)                        (V6)

Quirk reproduced: a text-poor PDF with no images classifies as
``PDFType.INVALID`` yet validates ``is_valid=True`` (pdf_validator.py:242-250
returns INVALID which only SCANNED short-circuits at :173-179).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..generator import CORRECT_PASSWORD
from .lines import media_in_first_pages, pages_col

MAX_PAGES = 200          # pdf_validator.py:29
MAX_FILE_SIZE_MB = 25    # pdf_validator.py:30
MIN_TEXT_LENGTH = 100    # pdf_validator.py:31


VALIDATION_COLS = [
    "is_valid", "pdf_type", "error_code", "confidence_score",
    "page_count", "text_length",
]


@functools.cache
def _validation_exprs(raw_bytes: bool) -> tuple[tuple[tuple[Column, ...], ...], tuple[Column, ...]]:
    """(staged projections, ladder columns) of :func:`with_validation`.

    They depend only on column names and constants, so they are built once
    per process. ``raw_bytes`` (the input carries ``decode_status``)
    selects the head of the ladder, so it is the cache key."""
    spans = F.col("spans")
    # r6: the stages are one-element explode (Generate) barriers, not plain
    # withColumns projections. The ``where(is_valid)`` consumers push their
    # filter down THROUGH projections, inlining the aliased heavy
    # expressions into the filter condition — the ladder references
    # page_count/text_length/_media several times, so the page split ran
    # ~4x per doc in every branch subtree. A filter cannot push through a
    # Generate whose output it references, so each stage is evaluated
    # exactly once per doc and the ladders read stored scalars.
    pm = F.explode(
        F.array(
            F.struct(
                pages_col(spans).alias("p"),
                media_in_first_pages(spans, 5).alias("m"),
            )
        )
    ).alias("_pm")
    # total_text = ''.join(first 5 page texts); Python-strip()ped length
    text5 = F.array_join(F.slice("_pages", 1, 5), "")
    ct = F.explode(
        F.array(
            F.struct(
                F.when(F.size(spans) <= 0, F.lit(0))
                .otherwise(F.size("_pages"))
                .cast("int")
                .alias("pc"),
                F.length(F.regexp_replace(text5, r"^\s+|\s+$", ""))
                .cast("int")
                .alias("tl"),
            )
        )
    ).alias("_ct")
    stages = (
        (pm,),
        (F.col("_pm.p").alias("_pages"), F.col("_pm.m").alias("_media")),
        (ct,),
        (F.col("_ct.pc").alias("page_count"), F.col("_ct.tl").alias("text_length")),
    )

    size_gate = (
        F.col("declared_size_mb") > MAX_FILE_SIZE_MB,
        False, "invalid", "FILE_TOO_LARGE", 0.0,
    )
    if raw_bytes:
        # raw-bytes path: the codec ALREADY attempted real decryption
        # (standard security handler + trimmed retry, pdf_codec.py) and
        # reports the outcome — quarantine on its status, not on the
        # fixture password columns. Predicate order is the reference's
        # exactly (pdf_validator.py:44-73): magic bytes (NOT_PDF) → size →
        # structure (CORRUPTED) → encryption
        status = F.col("decode_status")
        head = [
            ((status == "NOT_PDF"), False, "invalid", "NOT_PDF", 0.0),
            size_gate,
            ((status == "CORRUPTED"), False, "invalid", "CORRUPTED", 0.0),
            ((status == "ENCRYPTED_NO_PASSWORD"), False, "invalid", "ENCRYPTED_NO_PASSWORD", 0.0),
            ((status == "WRONG_PASSWORD"), False, "invalid", "WRONG_PASSWORD", 0.0),
        ]
    else:
        wrong_pw = (
            F.col("encrypted")
            & F.col("password").isNotNull()
            & (F.col("password") != CORRECT_PASSWORD)
            & (F.trim(F.col("password")) != CORRECT_PASSWORD)  # trimmed retry (V4)
        )
        head = [
            (spans.isNull(), False, "invalid", "CORRUPTED", 0.0),
            size_gate,
            (F.col("encrypted") & F.col("password").isNull(), False, "invalid", "ENCRYPTED_NO_PASSWORD", 0.0),
            (wrong_pw, False, "invalid", "WRONG_PASSWORD", 0.0),
        ]
    conds = head + [  # (condition, is_valid, pdf_type, error_code, confidence)
        (F.col("page_count") == 0, False, "invalid", "EMPTY_PDF", 0.0),
        (F.col("page_count") > MAX_PAGES, False, "invalid", "TOO_MANY_PAGES", 0.0),
        ((F.col("text_length") < MIN_TEXT_LENGTH) & F.col("_media"), False, "scanned", "NO_TEXT_CONTENT", 0.3),
        (F.col("text_length") < MIN_TEXT_LENGTH, True, "invalid", "VALID", 1.0),  # INVALID-yet-valid quirk
        (F.col("_media"), True, "hybrid", "VALID", 1.0),
    ]

    def ladder(pick, default):
        out = None
        for cond, iv, pt, ec, cs in conds:
            val = F.lit(pick(iv, pt, ec, cs))
            out = F.when(cond, val) if out is None else out.when(cond, val)
        return out.otherwise(F.lit(default))

    ladders = (
        ladder(lambda iv, pt, ec, cs: iv, True).alias("is_valid"),
        ladder(lambda iv, pt, ec, cs: pt, "text").alias("pdf_type"),
        ladder(lambda iv, pt, ec, cs: ec, "VALID").alias("error_code"),
        ladder(lambda iv, pt, ec, cs: cs, 1.0).alias("confidence_score"),
    )
    return stages, ladders


def with_validation(docs: DataFrame) -> DataFrame:
    """docs + the six validation columns, computed in STAGED projections so
    the heavy span-array expressions (page split, first-5-pages text, media
    fold) are evaluated ONCE per doc. A single struct-valued when-ladder
    would be copied into every consumer by Catalyst's
    ``GetStructField(CreateNamedStruct)`` simplification — measured 18 page-
    split evaluations per doc (~20% of pipeline CPU). Spark >=3.3 refuses to
    collapse projections that would duplicate non-cheap expressions, so the
    explicit staging (:func:`_validation_exprs`) sticks; the fail-fast
    ``when`` ladders (pdf_validator.py:44-73's cheapest-first predicate
    order) then run over plain scalar columns."""
    stages, ladders = _validation_exprs("decode_status" in docs.columns)
    staged = docs
    for cols in stages:
        staged = staged.select("*", *cols)
    return staged.select(*docs.columns, "page_count", "text_length", *ladders)


def validate(docs: DataFrame) -> DataFrame:
    """documents → VALIDATION rows (one per doc, narrow staged projections)."""
    return with_validation(docs).select("doc_id", *VALIDATION_COLS)


BANK_IDENTIFIERS = {  # apgvb_extractor.py:403-439 (V8; only APGVB defines them)
    "APGVB": ["andhra pradesh grameena", "a.p. grameena", "ap grameena", "apgvb"],
}


def validate_pdf_content(
    docs: DataFrame, identifiers: dict[str, list[str]] | None = None
) -> DataFrame:
    """V8 — first-page content check (``_validate_pdf_content``,
    apgvb_extractor.py:132-168): ``content_ok`` = the first page has >= 10
    characters after a full ``strip()``; ``has_bank_indicator`` = any
    configured identifier appears (case-insensitive substring) in the
    first-page text, NULL when the bank defines no identifiers — the check
    is skipped, matching the reference's ``if bank_identifiers:``. The
    indicator is WARNING-only in the reference (logger.warning, no raise) —
    surfaced here as a flag column, never a gate. Identifier lists join in
    as a broadcast dimension (config-driven, apgvb:412-428)."""
    rows = [(b, ids) for b, ids in (identifiers or BANK_IDENTIFIERS).items()]
    ids_df = docs.sparkSession.createDataFrame(
        rows, "bank_id string, identifiers array<string>"
    )
    fp = F.lower(
        F.coalesce(F.try_element_at(pages_col(F.col("spans")), F.lit(1)), F.lit(""))
    )
    return docs.join(F.broadcast(ids_df), "bank_id", "left").select(
        "doc_id",
        (F.length(F.regexp_replace(fp, r"^\s+|\s+$", "")) >= 10).alias("content_ok"),
        F.when(
            F.col("identifiers").isNotNull(),
            F.exists("identifiers", lambda i: fp.contains(F.lower(i))),
        ).alias("has_bank_indicator"),
    )


# (PdfReader.metadata key, output field) — pdf_validator.py:258-264,270-273
PDF_META_FIELDS = [
    ("/Title", "title"),
    ("/Author", "author"),
    ("/Subject", "subject"),
    ("/Creator", "creator"),
    ("/Producer", "producer"),
    ("/CreationDate", "creation_date"),
    ("/ModDate", "modification_date"),
]


def pdf_metadata_struct(meta_col: str = "pdf_meta"):
    """V7 — document-info extraction (pdf_validator.py:252-282) as one
    struct expression over the ``map<string,string>`` metadata column.

    Semantics preserved from the reference: a field is set only when the key
    is present AND truthy (``if value:`` — empty strings drop out, rendered
    here as NULL, the columnar analogue of an absent dict key); a doc whose
    reader exposes no metadata at all yields all-NULL fields (``{}``)."""
    m = F.col(meta_col)
    return F.struct(
        *[
            F.nullif(F.try_element_at(m, F.lit(k)), F.lit("")).alias(field)
            for k, field in PDF_META_FIELDS
        ]
    )


def extract_pdf_metadata(docs: DataFrame, meta_col: str = "pdf_meta") -> DataFrame:
    """documents → (doc_id, title, author, subject, creator, producer,
    creation_date, modification_date) — one narrow projection, no shuffle."""
    return docs.select("doc_id", pdf_metadata_struct(meta_col).alias("_m")).select(
        "doc_id", "_m.*"
    )


ERROR_MESSAGES = {  # error_codes.py:25-36 (V9)
    "VALID": "PDF is valid and ready for processing",
    "NOT_PDF": "File is not a valid PDF document",
    "CORRUPTED": "PDF appears to be corrupted or damaged",
    "FILE_TOO_LARGE": "File size exceeds the maximum allowed limit of 25MB",
    "ENCRYPTED_NO_PASSWORD": "PDF is password protected but no password was provided",
    "WRONG_PASSWORD": "The provided password is incorrect",
    "NO_TEXT_CONTENT": "This appears to be a scanned PDF without extractable text. Please use a text-based PDF.",
    "EMPTY_PDF": "PDF has no pages or is empty",
    "TOO_MANY_PAGES": "PDF has too many pages (maximum allowed is 200)",
}


def with_error_message(
    validation: DataFrame,
    size_col: str = "declared_size_mb",
    pages_col: str = "page_count",
) -> DataFrame:
    """V9 — error-code → message projection with the reference's two
    interpolated branches (error_codes.py:49-58):

    * ``FILE_TOO_LARGE`` → ``"File size {file_size_mb:.1f}MB exceeds the
      maximum allowed limit of 25MB"``
    * ``TOO_MANY_PAGES`` → ``"PDF has {page_count} pages, maximum allowed
      is 200"``

    Python's ``:.1f`` rounds half-to-even on the binary value, so the size
    is rendered with ``format_number`` (DecimalFormat HALF_EVEN — Java's
    ``%.1f`` would round half-up and diverge on exact ties like 25.25).
    Interpolations only fire when the input carries the corresponding
    column (mirrors the reference, which interpolates only when the kwarg
    is supplied); otherwise the static map text is used.
    """
    mapping = F.create_map(*[F.lit(x) for kv in ERROR_MESSAGES.items() for x in kv])
    msg = mapping[F.col("error_code")]
    if pages_col in validation.columns:
        msg = F.when(
            F.col("error_code") == "TOO_MANY_PAGES",
            F.format_string(
                "PDF has %s pages, maximum allowed is 200",
                F.col(pages_col).cast("long").cast("string"),
            ),
        ).otherwise(msg)
    if size_col in validation.columns:
        msg = F.when(
            F.col("error_code") == "FILE_TOO_LARGE",
            F.format_string(
                "File size %sMB exceeds the maximum allowed limit of 25MB",
                F.regexp_replace(
                    F.format_number(F.col(size_col).cast("double"), 1), ",", ""
                ),
            ),
        ).otherwise(msg)
    return validation.withColumn("error_message", msg)
