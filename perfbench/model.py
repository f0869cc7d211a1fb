"""Pure-Python model of the reference index build (``main.c++``).

Independent of the engine: it reads the corpus files itself and follows
the reference step by step.

* ``getline`` splits a file on ``\\n``.
* ``strtok_r(line, " \\n\\t")`` yields the line's first token and
  consumes exactly one delimiter after it.  Every later token comes
  from ``strtok_r(NULL, " ")``, whose only delimiter is a space, so a
  tab after the first token stays inside its token.
* Each token is folded A-Z -> a-z and loses every byte outside a-z;
  tokens left empty are dropped.
* Words are deduplicated per file; doc ids are 1-based manifest
  positions.
* Each first letter gets ``<letter>.txt`` with one ``word:[d1 d2 ...]``
  line per word, ordered by (doc_freq DESC, word ASC).
"""

from __future__ import annotations

import string

_FOLD = bytes(c + 32 if 65 <= c <= 90 else c for c in range(256))
_DROP = bytes(c for c in range(256) if not 97 <= _FOLD[c] <= 122)
_FIRST_DELIMS = b" \n\t"


def _normalize(token: bytes) -> bytes:
    return token.translate(_FOLD, _DROP)


def line_tokens(line: bytes) -> list[bytes]:
    """Raw tokens of one line in strtok_r order (before normalizing)."""
    i, n = 0, len(line)
    while i < n and line[i] in _FIRST_DELIMS:
        i += 1
    if i == n:
        return []
    j = i
    while j < n and line[j] not in _FIRST_DELIMS:
        j += 1
    return [line[i:j]] + [t for t in line[j + 1:].split(b" ") if t]


def file_words(data: bytes) -> set[str]:
    words = set()
    for line in data.split(b"\n"):
        for tok in line_tokens(line):
            w = _normalize(tok)
            if w:
                words.add(w.decode("ascii"))
    return words


def postings(paths: list[str]) -> dict[str, list[int]]:
    """word -> ascending doc ids, over the files in manifest order."""
    index: dict[str, list[int]] = {}
    for doc_id, p in enumerate(paths, start=1):
        with open(p, "rb") as f:
            for w in file_words(f.read()):
                index.setdefault(w, []).append(doc_id)
    return index


def letter_files(index: dict[str, list[int]]) -> dict[str, bytes]:
    """The 26 reference output files, as bytes."""
    by_letter: dict[str, list[str]] = {c: [] for c in string.ascii_lowercase}
    for w in sorted(index, key=lambda w: (-len(index[w]), w)):
        ids = " ".join(map(str, index[w]))
        by_letter[w[0]].append(f"{w}:[{ids}]\n")
    return {c: "".join(lines).encode() for c, lines in by_letter.items()}
