"""Reference-exact tokenizer expressions (column-level, no Python UDFs).

Contract from the reference mapper (``do_map``, mapreduce.c:115-132):

* split on ASCII space ``' '`` ONLY (tabs/punctuation do NOT split,
  so ``end.Start`` -> ``endstart``);
* within each token keep only ``[A-Za-z]``, lowercased
  (``Don't`` -> ``dont``, ``well-known`` -> ``wellknown``);
* drop tokens that end up empty (``1865`` -> dropped).

This module is the contract's only home: ``normalize_line`` is the
line-level normalization, ``tokens`` the per-line token array and
``tokens_array`` the raw split that keeps empties (for callers that
need token positions).  The row-per-token form is
``operators.text.tokenize``.

Everything is a Catalyst expression so it stays inside whole-stage
codegen — mandatory for the 100 TB hot path (a per-row Python UDF here
would dominate the job).

PERFORMANCE NOTE (measured on this Spark build): evaluating
``regexp_replace`` *downstream of a generator* — per exploded row, or
inside an array-lambda HOF like ``F.filter(F.transform(...))`` — incurs
a 60-230 s one-time per-session cost (first-use JIT/codegen of the regex
path in generated-row context).  Evaluating the same regex on the input
line *before* ``split``/``explode`` costs seconds.  Since stripping
``[^A-Za-z ]`` at line level can never add/remove a space, token
boundaries are preserved and the two orders produce identical rows — so
the engine normalizes the line first, always.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["normalize_line", "tokens_array", "tokens"]


def normalize_line(line: Column) -> Column:
    """Lowercase + strip every char that is neither a letter nor a space.

    Space-preserving, so splitting after equals the reference's
    split-then-strip order (mapreduce.c:115-132).
    """
    return F.lower(F.regexp_replace(line, "[^A-Za-z ]", ""))


def tokens_array(line: Column) -> Column:
    """Array of normalized tokens for one line; may contain empty strings
    (filter ``!= ''`` after exploding, matching mapreduce.c:126)."""
    return F.split(normalize_line(line), " ")


def tokens(line: Column) -> Column:
    """The line's tokens with empty ones dropped (mapreduce.c:126), as an
    array: the reference contract in one in-row expression."""
    return F.filter(tokens_array(line), lambda t: t != "")
