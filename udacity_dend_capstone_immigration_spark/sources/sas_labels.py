"""SAS `proc format` label-dictionary parser (S5; reference etl.py:101-125).

Pure driver-side Python — the labels file is ~1,100 lines, so there is
nothing to distribute; the parsed pairs feed ``sources.from_pairs`` which
creates broadcast-size dim DataFrames.

Semantics pinned to the reference (SURVEY.md §2.1 S5), byte-for-byte:

- scan starts at the FIRST occurrence of ``label_name`` anywhere in the
  file — for ``I94VISA`` and ``I94MODE`` that is their *comment* text, not
  a ``value`` statement, which is load-bearing: I94VISA's codes only exist
  in a comment block (reference I94_SAS_Labels_Descriptions.SAS:1046-1050);
- the block ends at the next ``;`` after that occurrence;
- each line is split on ``=``; lines that don't produce exactly 2 parts
  are silently skipped (comments, blank lines);
- both sides are whitespace-stripped then stripped of single quotes.
"""

from __future__ import annotations


def parse_sas_labels(file_text: str, label_name: str) -> list[tuple[str, str]]:
    """Extract ``(code, value)`` pairs for ``label_name`` from SAS text."""
    start = file_text.index(label_name)
    block = file_text[start:]
    block = block[: block.index(";")]

    pairs: list[tuple[str, str]] = []
    for line in block.split("\n"):
        parts = line.split("=")
        if len(parts) != 2:
            continue
        code = parts[0].strip().strip("'")
        value = parts[1].strip().strip("'")
        pairs.append((code, value))
    return pairs

