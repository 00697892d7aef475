"""Text cleansing / normalization expression library (OP-11..OP-16).

Re-implements the reference's silver-layer cleansing
(reference dags/data_transformations_bronze_to_silver.py:26-110) as pure
``Column`` expression constructors — no UDFs, so everything stays inside
whole-stage codegen on the JVM:

- ``normalize_location``: trim → lower → spaces-to-dashes (OP-11, ref :94-96).
- ``repair_mojibake``: table-driven literal repairs generalizing the
  reference's seven hard-coded U+FFFD fixes (OP-12, ref :98-105).
- ``clean_text``: strip connector punctuation (``\\p{Pc}``) then fold accents
  via ``translate`` (OP-14, ref :42-47).

Scale note: the accent-folding table is computed **once per process** and
shipped to executors as expression literals — the reference rebuilds the
~1.1M-codepoint Unicode scan on every ``clean_text`` call, 3× per run
(SURVEY.md §4.3-1). As literals inside a Project these normalizations cost
one codegen'd pass regardless of data size; there is no shuffle.
"""

from __future__ import annotations

import sys
import unicodedata
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

# Literal mojibake repairs observed in the upstream API data itself
# (reference data_transformations_bronze_to_silver.py:98-105; README.md:88-90).
# Keys are Java-regex patterns (that is the semantics the reference ran them
# under, via Spark regexp_replace); values are replacements. Order matters:
# specific fixes run before the blanket ``â`` rule.
MOJIBAKE_RULES: dict[str, list[tuple[str, str]]] = {
    "state": [
        ("k�rnten", "karnten"),
        ("nieder�sterreich", "niederosterreich"),
    ],
    "city": [
        ("klagenfurt-am-w�rthersee", "klagenfurt-am-worthersee"),
    ],
    "name": [
        (
            "Anheuser-Busch Inc ̢���� Williamsburg",
            "Anheuser-Busch/Inbev Williamsburg Brewery",
        ),
        ("Caf� Okei", "Cafe Okei"),
        ("Wimitzbr�u", "Wimitzbrau"),
        ("â", "-"),
    ],
}


@lru_cache(maxsize=1)
def accent_fold_table() -> tuple[str, str]:
    """The reference's ``make_trans`` (ref :26-40): for every codepoint whose
    Unicode name contains "WITH", map it to its base character.

    Computed once per process (``lru_cache``) and pinned thereafter — the
    result depends only on the interpreter's unicodedata version, and both
    the Spark expression and the DuckDB oracle SQL are generated from this
    same table, so parity is by construction.

    Restricted to the BMP: Spark's ``translate`` and DuckDB's ``translate``
    are codepoint-based, but astral-plane entries buy nothing for text
    normalization (no Latin/Cyrillic/Greek "WITH" letters live there) and
    surrogate-pair handling differs across engines.
    """
    matching, replace = [], []
    for i in range(ord(" "), min(sys.maxunicode, 0xFFFF)):
        name = unicodedata.name(chr(i), "")
        if "WITH" in name:
            try:
                base = unicodedata.lookup(name.split(" WITH")[0])
            except KeyError:
                continue
            # translate() maps one char to one char; skip multi-char bases.
            if len(base) == 1:
                matching.append(chr(i))
                replace.append(base)
    return "".join(matching), "".join(replace)


def normalize_location(c: Column | str) -> Column:
    """OP-11: ``regexp_replace(lower(trim(cast(c as string))), ' ', '-')``.

    Fixes the profiled ``" United States"`` vs ``"United States"`` duplicate
    (reference README.md:37) and makes values filesystem-safe for use as
    Hive partition directory names.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.lower(F.trim(c.cast("string"))), " ", "-")


def repair_mojibake(c: Column | str, rules: list[tuple[str, str]]) -> Column:
    """OP-12: apply an ordered rule table of literal regexp replacements."""
    out = F.col(c) if isinstance(c, str) else c
    for pattern, replacement in rules:
        out = F.regexp_replace(out, pattern, replacement)
    return out


def strip_connector_punctuation(c: Column | str) -> Column:
    """First half of OP-14: drop ``\\p{Pc}`` (underscores etc.), Java regex
    semantics (the spec — reference ran this through Spark's regexp_replace).
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(c, r"\p{Pc}", "")


def fold_accents(c: Column | str) -> Column:
    """Second half of OP-14: char-by-char accent folding via ``translate``."""
    c = F.col(c) if isinstance(c, str) else c
    matching, replace = accent_fold_table()
    return F.translate(c, matching, replace)


def clean_text(c: Column | str) -> Column:
    """OP-14 exactly as the reference composes it (ref :42-47):
    ``translate(regexp_replace(c, "\\p{Pc}", ""), matching, replace)``.
    """
    return fold_accents(strip_connector_punctuation(c))


def accent_fold_sql_literals() -> tuple[str, str]:
    """The (matching, replace) table as single-quoted SQL string literals,
    for generating the DuckDB oracle of ``fold_accents``."""
    matching, replace = accent_fold_table()
    return matching.replace("'", "''"), replace.replace("'", "''")
