"""P1/P2 — page text extraction + line tokenization (SURVEY.md §2.4).

The reference walks ``pdf_reader.pages[i].extract_text().split('\\n')``
(union_bank_extractor.py:237-257, canara_bank_extractor.py:186-226,
apgvb_extractor.py:553-614,666-671). Here the canonical input is already a
span table, so:

* pages  = the text spans joined by '\\n', split on form-feed marker spans —
  a pure array expression per doc, zero shuffle;
* lines  = ``posexplode`` of text spans + one window over ``doc_id`` to
  assign page numbers (1 + number of page-break spans before the span).

All downstream windows partition by ``doc_id`` (or ``doc_id, page``, which
hash-partitioning on ``doc_id`` already satisfies), so the whole parse
pipeline incurs exactly ONE shuffle for the line table.
"""

from __future__ import annotations

import functools
from types import SimpleNamespace

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import PAGE_BREAK

# regex that eats the page-break marker line plus the newlines that joined it
_BREAK_RE = "\n?\f\n?"


def py_strip(c: Column) -> Column:
    """Python ``str.strip()`` semantics (all whitespace, not just spaces —
    ``F.trim`` strips spaces only)."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def pages_col(spans: Column) -> Column:
    """array<string> of per-page text, exactly as a PDF reader would yield it
    (media spans contribute no text; PAGE_BREAK spans delimit pages).

    r6: one ``zip_with`` pass over the codegen-extracted ``kind``/``text``
    field arrays instead of a struct-array filter + transform (two
    interpreted passes with per-element struct access). ``array_join``
    skips NULL elements, so NULLing the media entries joins identically to
    filtering them out."""
    texts = F.zip_with(
        spans.getField("kind"),
        spans.getField("text"),
        lambda k, t: F.when(k == F.lit("text"), t),
    )
    return F.split(F.array_join(texts, "\n"), _BREAK_RE)


def head_text_col(spans: Column, n_pages: int, sep_newline: bool = False) -> Column:
    """Concatenated text of the first ``n_pages`` pages.

    ``sep_newline=False`` mirrors the validator's content probe
    (pdf_validator.py:214-219: ``total_text += text``);
    ``sep_newline=True`` mirrors APGVB metadata assembly
    (apgvb_extractor.py:491-494: ``combined += text + '\\n'``).
    """
    pages = F.slice(pages_col(spans), 1, n_pages)
    if sep_newline:
        return F.array_join(F.transform(pages, lambda p: F.concat(p, F.lit("\n"))), "")
    return F.array_join(pages, "")


def _nth_break_cut(spans: Column, n: int) -> Column:
    """Offset of the ``n``-th PAGE_BREAK span (NULL when there are fewer) —
    a span sits on page <= n iff its offset is below this cut (``offset`` is
    the total order within the doc, see :func:`line_table`)."""
    breaks = F.filter(
        spans, lambda s: (s["kind"] == "text") & (s["text"] == PAGE_BREAK)
    )
    return F.try_element_at(breaks, F.lit(n)).getField("offset")


def media_in_first_pages(spans: Column, n_pages: int = 5) -> Column:
    """V6 image probe: any media span within the first N pages
    (pdf_validator.py:209-232). Single array-fold, no shuffle.

    Kept as ONE fold on purpose (r6): this expression gets inlined into the
    valid-docs Filter by predicate pushdown, and any sub-expression (e.g. a
    precomputed break cut) embedded inside a lambda there is re-evaluated
    per array element — a cut-based variant measured O(spans²) per doc.
    The fold is one O(spans) pass wherever it lands."""
    return F.aggregate(
        spans,
        F.struct(F.lit(1).alias("page"), F.lit(False).alias("found")),
        lambda acc, s: F.struct(
            (
                acc["page"]
                + ((s["kind"] == "text") & (s["text"] == PAGE_BREAK)).cast("int")
            ).alias("page"),
            (
                acc["found"]
                | ((s["kind"] == "media") & (acc["page"] <= n_pages))
            ).alias("found"),
        ),
        lambda acc: acc["found"],
    )


@functools.cache
def _line_exprs() -> SimpleNamespace:
    """Column expressions of :func:`line_table`: they depend only on column
    names and constants, so they are built once per process."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    is_break = (F.col("s.kind") == "text") & (F.col("s.text") == PAGE_BREAK)
    return SimpleNamespace(
        exploded=F.posexplode("spans").alias("pos", "s"),
        page=(
            F.lit(1)
            + F.coalesce(
                F.sum(is_break.cast("int")).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).cast("int"),
        is_line=(F.col("s.kind") == "text") & ~is_break,
        off=F.col("s.offset").alias("off"),
        line=py_strip(F.col("s.text")).alias("line"),
    )


def line_table(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Explode documents into ``(doc_id, page, off, line)`` (+ ``carry``
    columns, e.g. the routing dimension ``bank_id``).

    ``off`` is the global span offset (total order within the doc); ``page``
    is 1-based. Page-break markers and media spans are dropped — parsers see
    the same stripped line stream the reference iterates.
    """
    e = _line_exprs()
    return (
        docs.select("doc_id", *carry, e.exploded)
        .withColumn("page", e.page)
        .where(e.is_line)
        .select("doc_id", *carry, "page", e.off, e.line)
    )


@functools.cache
def _head_lines_exprs(two_pages: bool) -> tuple[Column, Column, Column]:
    """The three staged columns of :func:`head_lines_frame`, built once per
    process for each ``two_pages`` value."""
    pages = 2 if two_pages else 1
    cut = F.col("_cut")
    kept = F.filter(
        F.col("spans"),
        lambda s: (s["kind"] == "text")
        & (s["text"] != PAGE_BREAK)
        & (cut.isNull() | (s["offset"] < cut)),
    )
    arr = F.transform(F.col("_kept"), lambda s: py_strip(s["text"]))
    if two_pages:
        filled = F.concat(arr, F.array(F.lit("")))
        default = F.array(F.lit(""), F.lit(""))
    else:
        filled = arr
        default = F.array(F.lit(""))
    final = F.when(F.size("_kept") > 0, filled).otherwise(default)
    return (
        F.explode(F.array(_nth_break_cut(F.col("spans"), pages))).alias("_cut"),
        F.explode(F.array(kept)).alias("_kept"),
        F.explode(F.array(final)).alias("arr"),
    )


def head_lines_frame(docs: DataFrame, two_pages: bool = False) -> DataFrame:
    """(doc_id, arr) — the first-page (or two-page) trimmed line ARRAY as a
    zero-shuffle chain of array expressions over the spans column —
    row-for-row identical to ``head_lines_table`` over the exploded line
    table plus the pipeline's old left-join default (r6).

    Equivalences with the join path:
    * lines of pages <= N = text spans (breaks excluded) before the N-th
      PAGE_BREAK, in offset order = array order (offset is the total order);
    * each line is Python-stripped, exactly as ``line_table`` emits it;
    * a doc with NO qualifying lines maps to the join-miss default the
      pipeline coalesced in ([''] for one page, ['', ''] for two);
    * ``two_pages`` appends the trailing '' of APGVB's page1+page2+'\\n'
      assembly to non-empty arrays, as ``head_lines_table`` did.

    Motivation (guide §2.4 — remove shuffles outright): the metadata branch
    previously exploded every span of every page, ran the page-number
    window, shuffled the head lines into a per-doc collect_list and joined
    them back to the branch docs. All of that existed to build this array;
    building it in place makes the metadata input a narrow projection with
    zero shuffles.

    Staging discipline: every intermediate that a later lambda references
    (``_cut``, ``_kept``) is materialized behind a one-element ``explode``
    — a Generate node projections cannot collapse through. A Column
    embedded inside a lambda is re-evaluated PER ARRAY ELEMENT, so an
    unstaged ``_cut`` turns the break scan into O(spans²) per doc, and
    CollapseProject inlines plain aliases into lambda bodies (the
    non-cheap-duplication guard does not see lambda-nested references).
    """
    cut, kept, final = _head_lines_exprs(two_pages)
    return (
        docs.select("doc_id", "spans", cut)
        .select("doc_id", kept)
        .select("doc_id", final)
    )


def head_lines_table(lines: DataFrame, two_pages: bool = False) -> DataFrame:
    """(doc_id, arr) — the first-page (or two-page) trimmed line ARRAY,
    materialized through an aggregation barrier.

    Metadata extraction probes the line array ~15× per doc; if the array is
    an inline expression, CollapseProject re-evaluates the whole
    spans→pages→split pipeline per probe (measured ~50% of total pipeline
    CPU). Aggregating the already-exploded line table stores the array once;
    the probes then traverse a dozen stored strings.

    ``two_pages=True`` mirrors APGVB's ``page1+'\\n'+page2+'\\n'`` assembly
    (apgvb_extractor.py:491-496): lines of pages 1-2 plus one trailing ''
    from the final newline. An empty page among the first two contributes
    one extra '' line in the reference's split that the line table cannot
    see — INERT by construction: every metadata probe requires non-empty
    content, so '' lines match nothing. Closed by evidence: the generator
    emits empty-page-2 APGVB docs (~10%) and empty trailing pages (~8%),
    and span parity stays green (tests/test_parity.py).
    """
    pages = 2 if two_pages else 1
    grouped = (
        lines.where(F.col("page") <= pages)
        .groupBy("doc_id")
        .agg(
            # GetArrayStructFields (codegen) instead of an interpreted
            # per-element transform lambda (r6, guide §4.1)
            F.array_sort(F.collect_list(F.struct("off", "line")))
            .getField("line")
            .alias("arr")
        )
    )
    if two_pages:
        grouped = grouped.withColumn("arr", F.concat(F.col("arr"), F.array(F.lit(""))))
    return grouped
