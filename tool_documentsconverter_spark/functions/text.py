"""Scalar string surface as pure Column expressions (SURVEY.md §2.10).

Everything here compiles into WholeStageCodegen — no Python boundary.
Each function cites the reference behavior it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# char blacklist of safe_stem (doc_to_md/main.py:244-249) /
# _sanitize_filename (xlsx_to_csv/main.py:64-67) as a regex class
SANITIZE_RE = r'[/\\:*?"<>|]'

# Python str.strip()'s exact whitespace set (every char where
# str.isspace() is true) as an explicit Java-regex character class.
# Java's \s is ASCII-only (space/tab/\n/\x0b/\f/\r), so a bare \s
# strip would leave \xa0, 　, \x1c-\x1f etc. on the Column path
# while the kernel/arrow paths strip them — byte-divergent stems.
# \x{...} escape syntax is the dialect BOTH Java regex (Spark) and
# RE2 (DuckDB) accept, so the oracle SQL replays this exact pattern.
_PY_WS_CLASS = (
    r"[\x{09}-\x{0d}\x{1c}-\x{1f}\x{20}\x{85}\x{a0}\x{1680}"
    r"\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"
)
PY_STRIP_RE = f"^{_PY_WS_CLASS}+|{_PY_WS_CLASS}+$"


def sanitize_stem(col: Column, default: str = "document") -> Column:
    """Column twin of kernels.sanitize_stem: blacklist -> '_', strip,
    default when empty.  Whitespace strip via an explicit character
    class matching Python str.strip() (NOT F.trim — SQL trim strips
    spaces only — and NOT Java \\s, which is ASCII-only; the kernel,
    arrow, and Column paths must agree byte-for-byte)."""
    cleaned = F.regexp_replace(
        F.regexp_replace(col, SANITIZE_RE, "_"), PY_STRIP_RE, ""
    )
    return F.when(cleaned == "", F.lit(default)).otherwise(cleaned)


def message_tail(col: Column, n: int = 1200) -> Column:
    """Tail-truncation of failure messages to the last n chars
    (doc_to_md/main.py:375-376 keeps stderr[-1200:], stdout[-600:])."""
    return F.right(col, F.lit(n))


# ---------------------------------------------------------------------------
# Training-data text hygiene (no reference analog; standard corpus prep)
# ---------------------------------------------------------------------------
# zero-width + BOM characters, C0 controls (newline/tab kept),
# unicode space separators -> ASCII space.  Escaped \\x{...} classes --
# the syntax Java regex (Spark) and RE2 (DuckDB) both accept.
_ZERO_WIDTH_RE = r"[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}]"
_CONTROL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
_UNICODE_SPACE_RE = r"[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]"

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s<>\"]+"
LONG_DIGIT_RE = r"[0-9][0-9 ()+.-]{7,}[0-9]"


def normalize_text(col: Column) -> Column:
    """Corpus text normalization as one codegen'd expression chain:
    drop zero-width/BOM chars, strip C0/C1 controls (keeping \\n and
    \\t), map unicode space separators to ASCII space, squash runs of
    spaces/tabs, and trim each line's trailing whitespace."""
    out = F.coalesce(col, F.lit(""))
    out = F.regexp_replace(out, _ZERO_WIDTH_RE, "")
    out = F.regexp_replace(out, _CONTROL_RE, "")
    out = F.regexp_replace(out, _UNICODE_SPACE_RE, " ")
    out = F.regexp_replace(out, "[ \t]+", " ")
    out = F.regexp_replace(out, "[ \t]+\n", "\n")
    return F.regexp_replace(out, r"^\s+|\s+$", "")


# Mojibake repair table: the UTF-8 byte sequence of each target char
# mis-decoded as cp1252 (the classic double-encoding corruption, e.g.
# "â€™" for "'").  U+201D additionally appears in its latin-1 form
# (0x9D is unmapped in cp1252, so decoders emit the raw C1 control).
# A full general repair is a re-encode round trip (ftfy's approach),
# which needs charset functions the SQL oracle lacks; this table
# covers the high-frequency sequences with plain replace() that both
# engines execute identically.  ORDER MATTERS: the 3-byte "â€x"
# punctuation sequences must run before any 2-byte "Ã\x80-ÂX" letter
# fix could consume their lead bytes (none do today, but keep the
# punctuation block first).
MOJIBAKE_FIXES = [
    ("â€™", "’"),   # â€™  -> '
    ("â€˜", "‘"),   # â€˜  -> '
    ("â€œ", "“"),   # â€œ  -> "
    ("â€", "”"),   # â€ + C1 9D -> "
    ("â€”", "—"),   # â€”  -> em dash
    ("â€“", "–"),   # â€“  -> en dash
    ("â€¦", "…"),   # â€¦  -> ellipsis
    ("â€¢", "•"),   # â€¢  -> bullet
    ("Ã©", "é"),         # Ã©  -> é
    ("Ã¨", "è"),         # Ã¨  -> è
    ("Ã¡", "á"),         # Ã¡  -> á
    ("Ã³", "ó"),         # Ã³  -> ó
    ("Ãº", "ú"),         # Ãº  -> ú
    ("Ã¤", "ä"),         # Ã¤  -> ä
    ("Ã¶", "ö"),         # Ã¶  -> ö
    ("Ã¼", "ü"),         # Ã¼  -> ü
    ("ÃŸ", "ß"),         # ÃŸ  -> ß
    ("Ã±", "ñ"),         # Ã±  -> ñ
    ("Ã§", "ç"),         # Ã§  -> ç
    ("Â°", "°"),         # Â°  -> °
    ("Â·", "·"),         # Â·  -> ·
    ("Â»", "»"),         # Â»  -> »
    ("Â«", "«"),         # Â«  -> «
    ("Â ", " "),         # Â + nbsp -> nbsp (pure encoding
                              # repair; normalize_text folds nbsp->space)
]


def fix_mojibake(col: Column) -> Column:
    """Repair the classic UTF-8-read-as-cp1252 double-encoding damage
    ("â€™" -> "'", "Ã©" -> "é", ...) with a chain of literal
    replacements — stays inside codegen, and the DuckDB oracle replays
    the same replace() chain byte-for-byte.  See MOJIBAKE_FIXES for
    coverage and ordering; clean text passes through unchanged (none
    of the corrupt lead bytes â/Ã/Â followed by these exact trail
    chars occur in well-formed prose)."""
    out = F.coalesce(col, F.lit(""))
    for bad, good in MOJIBAKE_FIXES:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def scrub_pii(col: Column,
              email_token: str = "<EMAIL>",
              url_token: str = "<URL>",
              phone_token: str = "<PHONE>") -> Column:
    """Cheap PII redaction for training corpora: emails, URLs, and
    long digit runs (phone-ish) replaced by placeholder tokens.  URL
    first so emails inside URLs don't leave fragments.  Character-class
    regexes only, so the DuckDB oracle replays them under RE2."""
    out = F.coalesce(col, F.lit(""))
    out = F.regexp_replace(out, URL_RE, url_token)
    out = F.regexp_replace(out, EMAIL_RE, email_token)
    return F.regexp_replace(out, LONG_DIGIT_RE, phone_token)
