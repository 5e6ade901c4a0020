"""Single-threaded recomputation of the two reference MapReduce jobs.

Written from the mapper/reducer semantics of the original Java jobs, not
from the Spark code, so it is an independent check of their output:

* Java ``String.split(",")``: trailing empty fields are dropped, and an
  empty line splits to one empty field.
* StockCount keeps rows with more than three fields and counts the
  trimmed last field.
* WordCount keeps rows with more than one field, re-joins fields
  1 .. n-3 with "," (the headline), lower-cases it, turns every character
  outside [a-z ] into a space, splits on whitespace and drops empty tokens
  and stop words.
* Both rank by count descending, then key ascending. StockCount emits every
  key as ``"<rank>: <key>, <count>"``; WordCount emits the top 100 as
  ``"<rank>: <word>\\t<count>"``.
"""
import re
from collections import Counter

_TRIM = "".join(chr(c) for c in range(0x21))  # Java String.trim()
_NOT_LETTER = re.compile(r"[^a-z ]")


def java_split(line):
    if line == "":
        return [""]
    parts = line.split(",")
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def _ranked(counts):
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))


def stock_count(lines):
    counts = Counter()
    for line in lines:
        f = java_split(line)
        if len(f) > 3:
            counts[f[-1].strip(_TRIM)] += 1
    return [f"{r}: {k}, {c}" for r, (k, c) in enumerate(_ranked(counts), 1)]


def word_count(lines, stop_words, top=100):
    heads = []
    for line in lines:
        f = java_split(line)
        if len(f) > 1:
            heads.append(",".join(f[1:len(f) - 2]))
    # after the scrub only [a-z ] is left, so split() is split("\\s+")
    # with the empty tokens dropped
    text = _NOT_LETTER.sub(" ", " ".join(heads).lower())
    stop = set(stop_words)
    counts = Counter(t for t in text.split() if t not in stop)
    return [f"{r}: {k}\t{c}" for r, (k, c) in enumerate(_ranked(counts)[:top], 1)]


def expected(csv_path, stop_words):
    """(stockcount lines, wordcount lines) for the CSV at ``csv_path``."""
    with open(csv_path, encoding="ascii") as f:
        lines = f.read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # the file ends with a newline, not an empty row
    return stock_count(lines), word_count(lines, stop_words)
