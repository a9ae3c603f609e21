"""BPE (byte-pair-encoding) tokenizer training and encoding.

Classic BPE (Sennrich et al., ACL 2016) learns its merge table from the
word-frequency table held in memory: only the word COUNT is
corpus-sized, the table itself is vocabulary-sized.  Training here has
that shape:

1. one distributed reduction: the corpus collapses to a ``(word, wc)``
   table upstream (wordcount, the cheapest shuffle there is); the
   trainer splits each word into symbols (:func:`chars`) and collects
   the table in ONE Spark action;
2. a driver loop: one weighted pair count over the collected table,
   then per merge the argmax pair, a leftmost non-overlapping merge of
   only the words that contain it, and an incremental update of the
   pair counts (their old pairs out, their new pairs in).  A merge
   costs the words it touches, not the table.

Cap: the collected table holds at most ``_MAX_WORDS`` (1,000,000)
rows; a larger table raises ``ValueError`` (there is no second,
distributed path).  At the cap — 1,000,000 rows of 4–12 hex symbols,
4-core VM — ``bpe_train(words, 8)`` took 18 s (11 s of it the driver
loop, most of that the initial pair count) and the Python driver
process peaked at 1.2 GB RSS.

Encoding stays distributed: :func:`bpe_encode` compiles the merge table
into one SQL string of chained folds (:func:`_merge_once`), parsed once
into a Column: building the same folds from Python lambdas costs tens of
milliseconds of py4j round trips per merge.

Determinism: the argmax tiebreak is (count DESC, left ASC, right ASC)
— a total order, so any partitioning learns the identical merge table.
Pair counts are exact integers (sums of word counts).

Differential verification: tests/test_bpe.py pins the trainer against
an independent pure-Python reference that recounts every pair each
round, on randomized corpora; the three catalog entries hash-match
DuckDB's unrolled training chain.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Largest word table :func:`bpe_train` collects to the driver.
_MAX_WORDS = 1_000_000


def _chars_sql(word: str) -> str:
    return f"filter(split({word}, ''), x -> x != '')"


def chars(word: str) -> Column:
    """Split the word column ``word`` into its character symbols
    (array<string>)."""
    return F.expr(_chars_sql(word))


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal.  Backslash and quote are
    escaped, so any symbol (``'``, ``\\``, ``%``, ``_`` included)
    round-trips under the default ``spark.sql.parser.escapedStringLiterals``
    = false."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_once(syms: str, left: str, right: str) -> str:
    """SQL for the leftmost non-overlapping merge of the (left, right)
    pair inside the symbol array ``syms`` — a pure fold, evaluated
    JVM-side.

    The fold compares each incoming symbol against the accumulator's
    tail: replacing the tail consumes it, so an element produced by a
    merge is never re-used as the RIGHT half of an overlapping merge —
    exactly the classic leftmost scan."""
    l, r, m = _sql_str(left), _sql_str(right), _sql_str(left + right)
    return (
        f"aggregate({syms}, cast(array() as array<string>), (acc, x) ->"
        f" CASE WHEN size(acc) > 0 AND element_at(acc, -1) = {l} AND x = {r}"
        f" THEN concat(slice(acc, 1, size(acc) - 1), array({m}))"
        f" ELSE concat(acc, array(x)) END)"
    )


def _merge_syms(s: list[str], left: str, right: str) -> list[str]:
    """:func:`_merge_once` on the driver: the leftmost non-overlapping
    merge of ``(left, right)`` inside one symbol list."""
    out: list[str] = []
    for x in s:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def bpe_train(
    words: DataFrame, n_merges: int, min_count: int = 2
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a ``(word, wc)`` frequency
    table.  Returns ``[(step, left, right, pair_count), ...]`` — the
    merge table, in training order.  Stops early when no pair reaches
    ``min_count``.  Raises ``ValueError`` on more than ``_MAX_WORDS``
    rows."""
    rows = (
        words.select(chars("word").alias("s"), F.col("wc").cast("long"))
        .limit(_MAX_WORDS + 1)
        .collect()
    )
    if len(rows) > _MAX_WORDS:
        raise ValueError(
            f"bpe_train: the word table has more than {_MAX_WORDS:,} rows "
            f"(collected {len(rows):,}), the driver-side trainer's cap"
        )
    # a null word or count contributes no pair
    table = [(s, wc) for s, wc in rows if s is not None and wc is not None]
    counts: Counter[tuple[str, str]] = Counter()
    where: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, (s, wc) in enumerate(table):
        # overlapping occurrences all count: [a,a,a] adds (a,a) twice
        for p in zip(s, s[1:]):
            counts[p] += wc
            where[p].add(i)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        live = [(-c, l, r) for (l, r), c in counts.items() if c > 0]
        if not live:
            break
        neg, l, r = min(live)
        if -neg < min_count:
            break
        merges.append((step, l, r, -neg))
        # a word indexed under a pair it has since lost re-adds what it
        # subtracts, so stale index entries cost time, never counts
        for i in where.pop((l, r)):
            s, wc = table[i]
            for p in zip(s, s[1:]):
                counts[p] -= wc
            s = _merge_syms(s, l, r)
            table[i] = (s, wc)
            for p in zip(s, s[1:]):
                counts[p] += wc
                where[p].add(i)
    return merges


def bpe_encode(word: str, merges: list[tuple[int, str, str, int]]) -> Column:
    """Apply a learned merge table (in order) to the character symbols
    of the word column ``word`` — the tokenizer's encode step, as ONE
    Column expression parsed from one SQL string of chained folds."""
    s = _chars_sql(word)
    for _step, left, right, _cnt in merges:
        s = _merge_once(s, left, right)
    return F.expr(s)
