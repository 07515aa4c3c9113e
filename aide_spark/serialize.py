"""Canonical span-sequence serialization — THE equality surface.

The per-row invariant vs the reference is span-sequence equality on
``(kind, text, media_ref, order)`` (BASELINE.json input_hint). This module is
the single source of truth for how a parsed document becomes that sequence:

* :func:`meta_texts_col` / :func:`txn_text_col` / :func:`summary_text_col`
  build the Spark-side expressions;
* :func:`reference_spans` renders the SAME sequence in plain Python from a
  reference extractor's result dict (used by the pytest oracle harness).

Field orders use the reference's own dict key names
(base_extractor.py:138-159; union_bank_extractor.py:342-353,
canara_bank_extractor.py:363-372, apgvb_extractor.py:743-753).

Float formatting: scalar floats render as Python ``str(float)`` — Spark's
``cast(double as string)`` produces the same shortest round-trip form for
this value range. Summary floats render as ``%.2f`` (monetary 2-decimal),
which absorbs summation-order last-bit differences between a distributed
``sum()`` and Python's sequential ``sum()``.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

# (reference dict key, our column/field name, type tag)
META_ORDER = [
    ("bank_name", "bank_name", "s"),
    ("currency", "currency", "s"),
    ("customer_name", "customer_name", "s"),
    ("customer_cif_id", "customer_cif_id", "s"),
    ("account_number", "account_number", "s"),
    ("account_type", "account_type", "s"),
    ("ifsc_code", "ifsc_code", "s"),
    ("statement_date", "statement_date", "s"),
    ("statement_period.from_date", "statement_period.from_date", "s"),
    ("statement_period.to_date", "statement_period.to_date", "s"),
    ("mobile_number", "mobile_number", "s"),
    ("home_branch", "home_branch", "s"),
    ("branch_code", "branch_code", "s"),
    ("address", "address", "s"),
    ("opening_balance", "opening_balance", "f"),
]

TXN_ORDER = [
    ("S.No", "S_No", "s"),
    ("Date", "Date", "s"),
    ("Transaction_ID", "Transaction_ID", "s"),
    ("Remarks", "Remarks", "s"),
    ("Amount", "Amount", "s"),
    ("Debit", "Debit", "s"),
    ("Credit", "Credit", "s"),
    ("Balance", "Balance", "s"),
    ("Amount_Numeric", "Amount_Numeric", "f"),
    ("Balance_Numeric", "Balance_Numeric", "f"),
    ("Transaction_Type", "Transaction_Type", "s"),
    ("Page_Number", "Page_Number", "i"),
]

SUMMARY_ORDER = [
    ("opening_balance", "opening_balance", "f2"),
    ("closing_balance", "closing_balance", "f2"),
    ("total_debits", "total_debits", "f2"),
    ("total_credits", "total_credits", "f2"),
    ("net_change", "net_change", "f2"),
    ("transaction_count", "transaction_count", "i"),
    ("date_range.from_date", "from_date", "s"),
    ("date_range.to_date", "to_date", "s"),
]

# ---------------------------------------------------------------------------
# Spark-side expression builders. The three span-text columns depend only on
# field names, so each is built once per process (functools.cache).
# ---------------------------------------------------------------------------


def py_float_str(col: Column) -> Column:
    """Render a double exactly as Python ``str(float)`` does.

    ``cast(double as string)`` (Java ``Double.toString``) agrees with Python
    only for ``1e-3 <= |v| < 1e7``: Java switches to scientific notation
    outside that band, Python only for ``|v| < 1e-4`` or ``>= 1e16``.  A
    >=1-crore balance (1e7) would therefore render ``1.0E7`` instead of
    ``10000000.0`` and silently break span-sequence equality.  This
    expression re-renders Java's output to Python's:

    * Java-sci exponents in [-4, 15] expand to plain decimal;
    * genuinely-scientific values reformat ``1.05E22`` → ``1.05e+22``
      (lowercase ``e``, explicit sign, >=2-digit zero-padded exponent,
      mantissa ``.0`` stripped) — Python's form.

    Digit parity: for ``|v| < 1e16`` (the whole plain-decimal band) Java 17
    and CPython produce identical digit strings (verified over the boundary
    cases in tests); beyond 1e16 pre-Ryu Java can emit non-shortest digits
    (e.g. 1.05e22 → ``1.0499999999999999e+22``) — out of the monetary
    envelope this surface carries.  (NaN/Infinity stay Java-spelled — they
    cannot occur in monetary columns.)
    """
    s = col.cast("double").cast("string")
    parts = F.split(s, "E")
    m, e = parts[0], parts[1].cast("int")
    neg = F.when(m.startswith("-"), F.lit("-")).otherwise(F.lit(""))
    absm = F.regexp_replace(m, "^-", "")
    # Java mantissa is d[.ddd] with >=1 fraction digit; ".0" is the only
    # redundant-zero form it emits.
    m_clean = F.regexp_replace(absm, r"\.0$", "")
    digits = F.regexp_replace(absm, r"\.0$|\.", "")
    intlen = e + F.lit(1)
    expand_pos = F.when(
        F.length(digits) <= intlen,
        F.concat(F.rpad(digits, intlen, "0"), F.lit(".0")),
    ).otherwise(
        F.concat(
            F.substring(digits, F.lit(1), intlen),
            F.lit("."),
            F.substring(digits, intlen + 1, F.lit(2147483647)),
        )
    )
    expand_neg = F.concat(F.lit("0."), F.repeat(F.lit("0"), -e - 1), digits)
    py_sci = F.concat(
        m_clean,
        F.lit("e"),
        F.when(e < 0, F.lit("-")).otherwise(F.lit("+")),
        F.lpad(F.abs(e).cast("string"), 2, "0"),
    )
    return F.when(
        ~s.contains("E"), s
    ).otherwise(
        F.concat(
            neg,
            F.when((e >= 16) | (e <= -5), py_sci)
            .when(e >= 0, expand_pos)
            .otherwise(expand_neg),
        )
    )


def _fmt(col: Column, tag: str) -> Column:
    if tag == "f":
        return py_float_str(col)  # str(float) form, full range
    if tag == "f2":
        return F.format_string("%.2f", col.cast("double"))
    if tag == "i":
        return col.cast("long").cast("string")
    return col


def _kv_items(pairs: list[tuple[str, Column, str]]) -> list[Column]:
    """'key=value' string per field, NULL for unset fields."""
    return [
        F.when(col.isNotNull(), F.concat(F.lit(key + "="), _fmt(col, tag)))
        for key, col, tag in pairs
    ]


def _kv_array(pairs: list[tuple[str, Column, str]]) -> Column:
    """array of 'key=value' strings, null entries (unset fields) dropped
    (array_compact: one collection-function pass, no interpreted lambda)."""
    return F.array_compact(F.array(*_kv_items(pairs)))


@functools.cache
def meta_texts_col() -> Column:
    """array<string> of meta-span texts from the ``metadata`` struct column."""
    meta = F.col("metadata")
    return _kv_array([(k, meta.getField(f.split(".")[0]).getField(f.split(".")[1])
                       if "." in f else meta.getField(f), t) for k, f, t in META_ORDER])


@functools.cache
def txn_text_col() -> Column:
    """'|'-joined key=value text for one TRANSACTIONS_OUT row.

    r6: ``concat_ws`` skips NULL arguments, which is exactly the
    array_join(filter(not-null)) composition it replaces — but it is a
    single whole-stage-codegen expression, where the interpreted
    ``ArrayFilter`` lambda showed up in steady-state thread samples of the
    assembly stage (guide §4.1: prefer built-ins over per-element lambdas;
    this runs once per transaction row, the hottest row count out of the
    parse stage)."""
    return F.concat_ws("|", *_kv_items([(k, F.col(f), t) for k, f, t in TXN_ORDER]))


@functools.cache
def summary_text_col() -> Column:
    """'|'-joined key=value text for one SUMMARY row."""
    return F.concat_ws(
        "|", *_kv_items([(k, F.col(f), t) for k, f, t in SUMMARY_ORDER])
    )


# ---------------------------------------------------------------------------
# Python-side renderers (pytest oracle harness over reference outputs)
# ---------------------------------------------------------------------------


def _py_fmt(v, tag: str) -> str:
    if tag == "f":
        return str(float(v))
    if tag == "f2":
        return f"{float(v):.2f}"
    if tag == "i":
        return str(int(v))
    return str(v)


def _py_get(d: dict, dotted: str):
    cur = d
    for part in dotted.split("."):
        if not isinstance(cur, dict):
            return None
        cur = cur.get(part)
        if cur is None:
            return None
    return cur


def py_meta_texts(metadata: dict) -> list[str]:
    out = []
    for key, _f, tag in META_ORDER:
        v = _py_get(metadata, key)
        if v is not None:
            out.append(f"{key}={_py_fmt(v, tag)}")
    return out


def py_txn_text(txn: dict) -> str:
    parts = []
    for key, _f, tag in TXN_ORDER:
        v = txn.get(key)
        if v is not None:
            parts.append(f"{key}={_py_fmt(v, tag)}")
    return "|".join(parts)


def py_summary_text(summary: dict) -> str:
    parts = []
    for key, _f, tag in SUMMARY_ORDER:
        src = {"date_range.from_date": ("date_range", "from_date"),
               "date_range.to_date": ("date_range", "to_date")}.get(key)
        v = summary.get(key) if src is None else (summary.get(src[0]) or {}).get(src[1])
        if v is not None:
            parts.append(f"{key}={_py_fmt(v, tag)}")
    return "|".join(parts)


def reference_spans(result: dict, media: list[tuple[str, int]]) -> list[tuple]:
    """Render a reference extractor result dict (+ the doc's media spans as
    (media_ref, offset), offset-ordered) to the canonical span sequence:
    meta spans, media pass-through spans, txn spans, then one summary span
    (omitted when the doc had no transactions — the reference returns ``{}``).

    Returns [(seq, kind, text, media_ref), ...].
    """
    spans: list[tuple] = []
    for t in py_meta_texts(result.get("statement_metadata") or {}):
        spans.append(("meta", t, ""))
    for ref, _off in sorted(media, key=lambda m: m[1]):
        spans.append(("media", "", ref))
    for txn in result.get("transactions") or []:
        spans.append(("txn", py_txn_text(txn), ""))
    summary = result.get("financial_summary") or {}
    if summary:
        spans.append(("summary", py_summary_text(summary), ""))
    return [(i, k, t, m) for i, (k, t, m) in enumerate(spans)]
