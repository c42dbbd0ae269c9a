"""The extraction stage: one `mapInArrow` pass over payload batches,
with the dominant plain-text class handled off the per-row path.

Design (SURVEY.md §2.3, §3.4): a SINGLE vectorized stage with the
per-format dispatch inside — no per-row Python UDF calls from the JVM
(the Python boundary is crossed once per Arrow batch; batch size
bounded by spark.sql.execution.arrow.maxRecordsPerBatch).  Plain-text
rows (~90% of a realistic transcript corpus) are emitted by vectorized
pyarrow.compute kernels (lpad/replace_regex/trim/join — C++, no
per-row Python); only structured payloads (PDF/OOXML/HTML/OLE) run
the stdlib kernels per element.  Text rows stay in this stage rather
than in a split Catalyst branch because Catalyst pushes each branch's
`fmt` filter into the scan, so a split plan reads the source twice.

Byte-parity: the vectorized path emits the kernel template exactly
(kernels.wrap_text_md / turn_stem — `# {stem}\\n\\n```text\\n...`);
pyarrow's lpad does not truncate and utf8_trim is given str.strip()'s
exact whitespace set, so the vectorized stem matches
kernels.sanitize_stem byte-for-byte (pinned by
tests/test_extract_spark.py).

Failure isolation (reference doc_to_md/main.py:451-456): kernel errors
become `status='failed'` rows with tail-truncated messages; the job
never aborts on a bad payload.
"""

from __future__ import annotations

import time
from typing import Iterator, List, Optional

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Observation

from .. import kernels
from ..functions.sniff import sniff_format

RESULT_COLS = ["md", "status", "message", "seconds"]

# str.strip()'s exact whitespace set (every codepoint where
# str.isspace() is True) — handed to pc.utf8_trim so the vectorized
# stem sanitize is byte-identical to kernels.sanitize_stem's .strip()
_PY_WS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0 "
    "           "
    "    　"
)
_SANITIZE_RE = r'[/\\:*?"<>|]'


def with_sniffed_format(df: DataFrame, hint_col: str | None = None) -> DataFrame:
    """Add the `fmt` column via codegen'd Column expressions so the
    dispatch is decided JVM-side (and filterable with pushdown) before
    any Python runs."""
    hint = F.col(hint_col) if hint_col and hint_col in df.columns else None
    return df.withColumn("fmt", sniff_format(F.col("text"), hint))


def _text_md_vec(conv: pa.Array, turn: pa.Array, text: pa.Array) -> pa.Array:
    """Vectorized E8 wrap: `# {sanitize(conv_turn:05d)}` + fenced text
    (kernels.wrap_text_md / turn_stem twins, pdf_converter.py:30-35).
    Entirely pyarrow.compute — zero per-row Python.  Null keys follow
    the kernel's f-string rendering (None -> "None"); null text wraps
    as empty, same as the kernel."""
    s = pc.cast(turn, pa.string())
    # sign-aware zero pad: f"{-12:05d}" is '-0012' (sign outside the
    # zeros, total width 5) while a bare lpad would give '00-12'
    neg = pc.fill_null(pc.less(turn, 0), False)
    idx_s = pc.if_else(
        neg,
        pc.binary_join_element_wise(
            "-", pc.utf8_lpad(pc.utf8_slice_codeunits(s, 1, 2_000_000), 4, "0"),
            ""),
        pc.utf8_lpad(s, 5, "0"),
    )
    raw = pc.binary_join_element_wise(
        pc.coalesce(conv, pa.scalar("None")), "_", idx_s, ""
    )
    stem = pc.utf8_trim(
        pc.replace_substring_regex(raw, _SANITIZE_RE, "_"), _PY_WS
    )
    stem = pc.if_else(pc.equal(stem, ""), pa.scalar("document"), stem)
    return pc.binary_join_element_wise(
        "# ", stem, "\n\n```text\n", pc.coalesce(text, pa.scalar("")),
        "\n```\n", "",
    )


def _make_extractor(hint_col: str | None = None, drop_cols: tuple = (),
                    time_budget_s: float | None = None):
    """Arrow-native batch extractor.  Deliberately NO pandas round
    trip: original columns pass through as untouched Arrow arrays
    (zero copy), the plain-text class is emitted by pyarrow.compute
    kernels over whole arrays, and only structured payloads
    materialize to Python (gathered with `take` so the per-row loop
    touches exactly the structured subset).  Batches must carry the
    `fmt` column, which extract() adds before the stage.

    ``time_budget_s`` is the SOFT per-batch wall-clock budget (SURVEY
    §2.11 O8(c)), per Arrow batch of up to
    `spark.sql.execution.arrow.maxRecordsPerBatch` rows (not per
    task or per row): checked BETWEEN rows of the structured dispatch
    loop — once a batch's elapsed time crosses it, every remaining
    structured row is emitted as status='failed' with a timeout
    message instead of entering the kernel, so one pathological
    payload (catastrophic regex, deeply nested XML) cannot hold a
    task hostage for the rest of its batch.  Soft: the row that is
    already inside the kernel when the budget expires runs to
    completion (no mid-kernel interruption), and the vectorized
    plain-text path is not metered (it is data-independent template
    work).  None (the default) = unlimited, matching the reference's
    own default (config.yaml:30 timeout: null)."""

    def _extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        extract_turn = kernels.extract_turn
        FMT_TEXT = kernels.FMT_TEXT
        OK = kernels.OK

        for batch in batches:
            t0 = time.perf_counter()
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            conv_col = batch.column(names.index("conv_id"))
            turn_col = batch.column(names.index("turn_idx"))
            text_col = batch.column(names.index("text"))
            fmt_col = batch.column(names.index("fmt"))

            # vectorized fast path for the plain-text class; a null fmt
            # (only possible with a user-supplied fmt column) routes to
            # the structured dispatch, which classifies it per-row
            is_text = pc.fill_null(pc.equal(fmt_col, FMT_TEXT), False)
            n_text = pc.sum(is_text).as_py() or 0
            if n_text > 0:
                md = _text_md_vec(conv_col, turn_col, text_col)
            else:
                # all-structured batch: skip the template build entirely
                md = pa.nulls(n, type=pa.string())

            if n_text == n:
                status: pa.Array = pa.array([OK] * n, type=pa.string())
                message: pa.Array = pa.array([""] * n, type=pa.string())
            else:
                not_text = pc.invert(is_text)
                idxs = pc.indices_nonzero(not_text)
                sub_conv = conv_col.take(idxs).to_pylist()
                sub_turn = turn_col.take(idxs).to_pylist()
                sub_text = text_col.take(idxs).to_pylist()
                if hint_col and hint_col in names:
                    sub_hint = (
                        batch.column(names.index(hint_col)).take(idxs).to_pylist()
                    )
                else:
                    sub_hint = fmt_col.take(idxs).to_pylist()
                m_s: List[str] = []
                st_s: List[str] = []
                msg_s: List[str] = []
                for c, ti, t, h in zip(sub_conv, sub_turn, sub_text, sub_hint):
                    if (time_budget_s is not None
                            and time.perf_counter() - t0 > time_budget_s):
                        m_s.append(None)
                        st_s.append(kernels.FAILED)
                        msg_s.append(
                            f"batch time budget {time_budget_s}s "
                            "exceeded before row; extraction skipped")
                        continue
                    m, s, msg = extract_turn(c, ti, t, fmt_hint=str(h or ""))
                    m_s.append(m)
                    st_s.append(s)
                    msg_s.append(msg)
                md = pc.replace_with_mask(
                    md, not_text, pa.array(m_s, type=pa.string())
                )
                status = pc.replace_with_mask(
                    pa.array([OK] * n, type=pa.string()), not_text,
                    pa.array(st_s, type=pa.string()),
                )
                message = pc.replace_with_mask(
                    pa.array([""] * n, type=pa.string()), not_text,
                    pa.array(msg_s, type=pa.string()),
                )

            # a text row with a NULL turn_idx yields a null md (null
            # propagates through the vectorized template); the old
            # per-row f-string crashed the whole task on that input —
            # surface it as a per-row failure instead of either a task
            # abort or a silently-'ok' null
            bad = pc.and_(pc.is_null(md), is_text)
            if pc.any(bad).as_py():
                status = pc.if_else(bad, pa.scalar(kernels.FAILED), status)
                message = pc.if_else(
                    bad, pa.scalar("null turn_idx on text row"), message)

            per_row = (time.perf_counter() - t0) / n
            # columns dropped HERE never cross Python -> JVM: Catalyst
            # cannot prune through the opaque Arrow stage, so a .drop()
            # after it would still pay the reverse transfer of the
            # largest column (the raw payload)
            arrays = [a for a, f in zip(batch.columns, batch.schema)
                      if f.name not in drop_cols]
            fields = [f for f in batch.schema if f.name not in drop_cols]
            arrays += [
                md, status, message,
                pa.array([per_row] * n, type=pa.float64()),
            ]
            fields += [
                pa.field("md", pa.string()),
                pa.field("status", pa.string()),
                pa.field("message", pa.string()),
                pa.field("seconds", pa.float64()),
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

    return _extract_batches


def _arrow_out_schema(df: DataFrame, drop: tuple) -> str:
    kept = [f for f in df.schema.fields if f.name not in drop]
    return ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in kept]
        + ["md string", "status string", "message string", "seconds double"]
    )


def extract(df: DataFrame, hint_col: str | None = None,
            drop_cols: tuple = (),
            observe_in: Optional[Observation] = None,
            time_budget_s: float | None = None) -> DataFrame:
    """Append (fmt, md, status, message, seconds) extraction columns.

    Input must carry conv_id:string, turn_idx:int, text:string; all
    other columns pass through untouched, EXCEPT those named in
    `drop_cols`, which are dropped inside the Arrow stage so they never
    pay the Python -> JVM return transfer (use for the raw payload when
    the output only needs md).

    ``observe_in`` attaches a row-count Observation (metric name
    ``rows_in``) to the stage input, so callers can prove the opaque
    stage is row-preserving without a second pass.
    """
    if "fmt" not in df.columns:
        df = with_sniffed_format(df, hint_col)
    drop = tuple(c for c in drop_cols if c in df.columns and c != "fmt")
    if observe_in is not None:
        df = df.observe(observe_in, F.count(F.lit(1)).alias("rows_in"))
    return df.mapInArrow(_make_extractor(hint_col, drop, time_budget_s),
                         _arrow_out_schema(df, drop))
