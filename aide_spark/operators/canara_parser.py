"""Canara Bank parser — pure DataFrame re-expression of
``/root/reference/api/extractors/canara_bank_extractor.py``.

Distinctive semantics vs Union:

* header-keyword skip list runs BEFORE start detection (canara:228-235), so a
  date-led line containing e.g. 'Balance' is never a transaction start;
* records combine from the date line up to the first ``Chq:`` line; the
  amounts live on the line IMMEDIATELY AFTER ``Chq:`` (canara:262-291) —
  mapped to ``lead(line)`` over the page (the reference reads the raw
  ``lines[i+1]``, which may even cross into the next record);
* serial numbers restart at 1 on every page (canara:221);
* the financial summary sorts by parsed date but still assigns
  opening = latest / closing = earliest (canara:385-393) — inverted
  semantics faithfully copied from Union; reproduced, not fixed.
"""

from __future__ import annotations

import functools
from types import SimpleNamespace

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .lines import py_strip

BANK_NAME = "Canara Bank"

DATE_RE = r"^(\d{2}-\d{2}-\d{4})"  # canara:238
_HEADER_KW = ["Date", "Particulars", "Deposits", "Withdrawals", "Balance"]  # canara:228


def _is_header(line: Column) -> Column:
    cond = F.lit(False)
    for kw in _HEADER_KW:
        cond = cond | line.contains(kw)
    return cond


@functools.cache
def _txn_exprs() -> SimpleNamespace:
    """Column expressions of :func:`transactions`: they depend only on
    column names and constants, so they are built once per process."""
    line = F.col("line")
    is_start = (
        ~_is_header(line)
        & ~line.startswith("Opening Balance")
        & line.rlike(DATE_RE)
    )
    w_page = Window.partitionBy("doc_id", "page").orderBy("off")

    # combine (canara:262-291): non-empty lines from the start up to and
    # including the FIRST 'Chq:' line of the segment.
    w_seg = Window.partitionBy("doc_id", "page", "seg").orderBy("off")
    before = w_seg.rowsBetween(Window.unboundedPreceding, -1)
    chq_before = F.coalesce(
        F.sum(line.startswith("Chq:").cast("int")).over(before), F.lit(0)
    )
    include = (line != "") & (chq_before == 0)
    is_chq = line.startswith("Chq:") & (chq_before == 0)
    seg_aggs = (
        F.array_join(
            F.array_sort(F.collect_list("part")).getField("line"), " "
        ).alias("combined"),
        # '' when no Chq: was found before the segment ended
        F.coalesce(F.max("amt_line"), F.lit("")).alias("amounts_line"),
        F.min("off").alias("start_off"),
    )

    combined = F.col("combined")
    date = F.element_at(F.split(combined, r"\s+"), 1)
    valid_date = (F.length(date) == 10) & (
        F.size(F.split(date, "-")) == 3
    )  # len==10 and count('-')==2 (canara:316)

    # amounts: whitespace tokens that contain '.' and are all digits after
    # stripping ',' and '.' (canara:326-342); commas removed in the output
    toks = F.split(F.col("amounts_line"), r"\s+")
    numeric = F.transform(
        F.filter(
            toks,
            lambda t: t.contains(".")
            & F.regexp_replace(F.regexp_replace(t, ",", ""), r"\.", "").rlike(r"^\d+$"),
        ),
        lambda t: F.regexp_replace(t, ",", ""),
    )
    amount_str = F.when(F.size(numeric) >= 2, F.element_at(numeric, 1)).otherwise(F.lit("0.00"))
    balance_str = (
        F.when(F.size(numeric) >= 2, F.element_at(numeric, 2))
        .when(F.size(numeric) == 1, F.element_at(numeric, 1))
        .otherwise(F.lit("0.00"))
    )

    txn_type = F.when(combined.contains("/DR/"), F.lit("Debit")).otherwise(F.lit("Credit"))
    particulars = py_strip(F.expr("substring(combined, length(split(combined, '\\\\s+')[0]) + 2)"))
    return SimpleNamespace(
        # the raw next line on the page — reference's lines[i+1] (canara:280-281)
        next_line=F.coalesce(F.lead("line", 1).over(w_page), F.lit("")),
        seg=F.sum(is_start.cast("int")).over(w_page),
        in_seg=F.col("seg") >= 1,
        part=F.when(include, F.struct("off", "line")),
        # amounts line = raw line after the first Chq: line (canara:278-282)
        amt_line=F.when(is_chq, F.col("next_line")),
        seg_aggs=seg_aggs,
        valid_date=valid_date,
        fields={
            "Date": date,
            "Remarks": particulars,
            "Transaction_Type": txn_type,
            "Debit": F.when(txn_type == "Debit", amount_str).otherwise(F.lit("")),
            "Credit": F.when(txn_type == "Credit", amount_str).otherwise(F.lit("")),
            "Balance": balance_str,
            "Page_Number": F.col("pg").cast("int"),
        },
        s_no=F.row_number()  # serial restarts per page (canara:221)
        .over(Window.partitionBy("doc_id", "pg").orderBy("start_off"))
        .cast("string"),
        order=F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("start_off"))
        .cast("int"),
        out=(
            "doc_id", "order", "S_No", "Date",
            F.lit(None).cast("string").alias("Transaction_ID"),
            "Remarks",
            F.lit(None).cast("string").alias("Amount"),
            "Debit", "Credit", "Balance",
            F.lit(None).cast("double").alias("Amount_Numeric"),
            F.lit(None).cast("double").alias("Balance_Numeric"),
            "Transaction_Type", "Page_Number",
        ),
    )


def transactions(lines: DataFrame) -> DataFrame:
    """(doc_id, page, off, line) → TRANSACTIONS_OUT rows for Canara docs.

    One projection per dependency level; the windows stay their own steps."""
    e = _txn_exprs()
    segs = (
        lines.withColumn("next_line", e.next_line)
        .withColumn("seg", e.seg)
        .where(e.in_seg)
        .withColumn("part", e.part)
        .withColumn("amt_line", e.amt_line)
        .groupBy("doc_id", "page", "seg")
        .agg(*e.seg_aggs)
        .withColumnRenamed("page", "pg")
    )
    return (
        segs.where(e.valid_date)
        .withColumns(e.fields)
        .withColumn("S_No", e.s_no)
        .withColumn("order", e.order)
        .select(*e.out)
    )


def _last_line(arr: Column, cond) -> Column:
    return F.try_element_at(F.filter(arr, cond), F.lit(-1))


def metadata(head_lines: DataFrame) -> DataFrame:
    """Per-doc metadata from first-page lines (canara:100-184); ``head_lines``
    is the materialized (doc_id, arr) from ``lines.head_lines_table``."""
    return head_lines.select("doc_id", _metadata_col())


@functools.cache
def _metadata_col() -> Column:
    """The metadata struct of :func:`metadata`, built once per process."""
    arr = F.col("arr")
    idx = F.transform(arr, lambda l, i: F.struct(l.alias("l"), i.alias("i")))

    def last_extract(startswith: str | None, contains: str | None, pat: str) -> Column:
        def cond(l):
            c = F.regexp_extract(l, pat, 1) != ""
            if startswith is not None:
                c = c & l.startswith(startswith)
            if contains is not None:
                c = c & l.contains(contains)
            return c

        return F.regexp_extract(_last_line(arr, cond), pat, 1)

    acc = last_extract("Statement for A/c", None, r"Statement for A/c\s+(\d+)")
    per_line = _last_line(
        arr,
        lambda l: l.startswith("Statement for A/c")
        & l.rlike(r"between\s+\d{2}-[A-Za-z]{3}-\d{4}\s+and\s+\d{2}-[A-Za-z]{3}-\d{4}"),
    )
    per_re = r"between\s+(\d{2}-[A-Za-z]{3}-\d{4})\s+and\s+(\d{2}-[A-Za-z]{3}-\d{4})"
    period = F.when(
        F.regexp_extract(per_line, per_re, 1) != "",
        F.struct(
            F.regexp_extract(per_line, per_re, 1).alias("from_date"),
            F.regexp_extract(per_line, per_re, 2).alias("to_date"),
        ),
    ).otherwise(F.lit(None).cast("struct<from_date:string,to_date:string>"))

    # address: 'Address' line + up to 3 continuation lines, stopping at the
    # first empty line or one containing a boundary keyword (canara:145-164)
    addr = F.try_element_at(F.filter(idx, lambda x: x["l"].startswith("Address")), F.lit(-1))
    head = py_strip(F.regexp_replace(addr["l"], "Address", ""))
    win3 = F.slice(arr, addr["i"] + 2, 3)  # 0-based i ⇒ lines i+1..i+3
    bad = lambda l: (l == "") | (  # noqa: E731
        l.contains("Branch Code") | l.contains("Branch Name") | l.contains("IFSC") | l.contains("Date")
    )
    # take-while: keep elements strictly before the first failing one
    fail_pos = F.filter(
        F.transform(win3, lambda l, k: F.when(bad(l), k + 1).otherwise(F.lit(0))),
        lambda p: p > 0,
    )
    cut = F.coalesce(F.try_element_at(fail_pos, F.lit(1)) - 1, F.size(win3))
    cont = F.slice(win3, 1, cut)
    parts = F.when(head != "", F.concat(F.array(head), cont)).otherwise(cont)
    address = F.when(F.size(parts) > 0, F.array_join(parts, " "))

    meta = F.struct(
        F.lit(BANK_NAME).alias("bank_name"),
        F.lit("INR").alias("currency"),
        _nz(py_strip(last_extract("Name", None, r"Name\s+(.+)"))).alias("customer_name"),
        _nz(last_extract("Customer Id", None, r"Customer Id\s+(\d+)")).alias("customer_cif_id"),
        _nz(acc).alias("account_number"),
        F.lit(None).cast("string").alias("account_type"),
        _nz(last_extract(None, "IFSC Code", r"IFSC Code\s+([A-Z0-9]+)")).alias("ifsc_code"),
        F.lit(None).cast("string").alias("statement_date"),
        period.alias("statement_period"),
        _nz(last_extract("Phone", None, r"Phone\s+(\+?\d+)")).alias("mobile_number"),
        _nz(py_strip(last_extract(None, "Branch Name", r"Branch Name\s+(.+)"))).alias(
            "home_branch"
        ),
        _nz(last_extract(None, "Branch Code", r"Branch Code\s+(\d+)")).alias("branch_code"),
        address.alias("address"),
        F.lit(None).cast("double").alias("opening_balance"),
    )
    return meta.alias("metadata")


def _nz(c: Column) -> Column:
    return F.when(c != "", c)


def opening_balance(head_lines: DataFrame) -> DataFrame:
    """P13 — first 'Opening Balance' line of page 1 → float (canara:205-215).
    (Dead for the output contract — the reference threads it into the page
    parser but never reads it — kept as a standalone operator for parity.)"""
    arr = F.col("arr")
    line = F.try_element_at(F.filter(arr, lambda l: l.startswith("Opening Balance")), F.lit(1))
    val = F.regexp_extract(line, r"Opening Balance\s+([\d,]+\.?\d*)", 1)
    return head_lines.select(
        "doc_id",
        F.coalesce(
            F.regexp_replace(val, ",", "").cast("double"), F.lit(0.0)
        ).alias("opening_balance"),
    )


def summary(txns: DataFrame) -> DataFrame:
    """A1-A6 (canara:380-421). Sort by parsed date (stable ⇒ secondary key =
    input order); opening = balance of the LATEST-dated txn, closing =
    EARLIEST (inverted on purpose); totals from the Debit/Credit strings."""
    keys, aggs, net_change = _summary_exprs()
    return (
        txns.withColumns(keys)
        .groupBy("doc_id")
        .agg(*aggs)
        .withColumn("net_change", net_change)
    )


@functools.cache
def _summary_exprs() -> tuple[dict[str, Column], tuple[Column, ...], Column]:
    """(sort keys, aggregates, net_change) of :func:`summary`, built once
    per process."""
    parsed_date = F.to_date("Date", "dd-MM-yyyy")
    key = F.struct(parsed_date.alias("d"), F.col("order").alias("o"))
    num = lambda c: F.coalesce(  # noqa: E731
        F.when(F.col(c) != "", F.regexp_replace(F.col(c), ",", "").cast("double")), F.lit(0.0)
    )
    bal = F.when(F.col("Balance") != "", F.regexp_replace(F.col("Balance"), ",", "")
                 .cast("double")).otherwise(F.lit(0.0))
    aggs = (
        F.max_by("_bal", "_k").alias("opening_balance"),
        F.min_by("_bal", "_k").alias("closing_balance"),
        F.sum(num("Debit")).alias("total_debits"),
        F.sum(num("Credit")).alias("total_credits"),
        F.count(F.lit(1)).alias("transaction_count"),
        F.min("Date").alias("from_date"),
        F.max("Date").alias("to_date"),
    )
    return {"_k": key, "_bal": bal}, aggs, F.col("total_credits") - F.col("total_debits")
