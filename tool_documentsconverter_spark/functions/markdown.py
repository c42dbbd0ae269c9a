"""Pure-column Markdown emitter (SURVEY.md §2.4).

The E8 template as a codegen'd Catalyst `concat` expression, for
Column pipelines that wrap plain text without an extraction stage.
Byte-compatibility with kernels.wrap_text_md is enforced by tests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def wrap_text_md(stem: Column, text: Column) -> Column:
    """Column twin of kernels.wrap_text_md — the E8 template
    `# {stem}\\n\\n```text\\n{text}\\n```\\n`
    (doc_to_md/pdf_converter.py:30-35, main.py:395-403)."""
    return F.concat(
        F.lit("# "), stem, F.lit("\n\n```text\n"),
        F.coalesce(text, F.lit("")), F.lit("\n```\n"),
    )

