"""Seeded inputs for the benchmark: a manifest corpus in the reference's
native format and the fixture tables the query mix reads.

Everything is a pure function of the seed, so two runs with one seed
see byte-identical inputs.  The corpus carries the bytes the reference
tokenizer treats specially: a tab right after a line's first token
(a delimiter there), a tab later in the line (not a delimiter, it joins
the fragments), a carriage return inside a token, non-ASCII letters,
digits, punctuation-only tokens, empty files and a path that holds a
space and a ``+``.
"""

from __future__ import annotations

import os

import numpy as np

LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
# Inserted into tokens; the reference deletes every one of them.
NOISE = ["é", "ü", "中", "K", "7", "42", "'", "-", ".", ","]
PUNCT_TOKENS = ["--", "!!", "...", "123", "(", "§", "#1"]


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words, 2-11 letters, first letters
    spread over the whole alphabet."""
    words: dict[str, None] = {}
    while len(words) < n:
        lens = rng.integers(2, 12, size=n)
        codes = rng.integers(0, 26, size=(n, 11))
        for ln, row in zip(lens, codes):
            words[LETTERS[row[:ln]].tobytes().decode()] = None
            if len(words) == n:
                break
    return list(words)


def zipf_sampler(rng: np.random.Generator, n: int, s: float = 1.07):
    """Draw ranks in ``[0, n)`` with probability proportional to
    ``1 / (rank + 1) ** s``."""
    cw = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    cw /= cw[-1]

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cw, rng.random(k)), n - 1)

    return draw


def _surface(rng: np.random.Generator, word: str) -> str:
    """One spelling of ``word`` that normalizes back to it."""
    r = rng.random()
    if r < 0.06:
        return word.upper()
    if r < 0.12:
        return word[:1].upper() + word[1:]
    if r < 0.18 and len(word) > 1:
        i = int(rng.integers(1, len(word)))
        return word[:i] + NOISE[int(rng.integers(len(NOISE)))] + word[i:]
    if r < 0.20 and len(word) > 1:
        i = int(rng.integers(1, len(word)))
        return word[:i] + "\r" + word[i:]
    if r < 0.23:
        return word + NOISE[int(rng.integers(len(NOISE)))]
    return word


def _file_text(rng, vocab, draw, size: int) -> str:
    lines = []
    total = 0
    while total < size:
        n_tok = int(rng.integers(4, 16))
        toks = [_surface(rng, vocab[i]) for i in draw(n_tok)]
        if rng.random() < 0.05:
            toks.insert(int(rng.integers(len(toks) + 1)),
                        PUNCT_TOKENS[int(rng.integers(len(PUNCT_TOKENS)))])
        line = " ".join(toks)
        r = rng.random()
        if r < 0.04:
            # tab ends the first token: a delimiter for strtok's first call
            line = line.replace(" ", "\t", 1)
        elif r < 0.07:
            # a later tab is not a delimiter: the two fragments join
            first = line.find(" ")
            j = line.find(" ", first + 1)
            if j > 0:
                line = line[:j] + "\t" + line[j + 1:]
        elif r < 0.09:
            line = "  \t" + line
        elif r < 0.10:
            line = line + "\r"
        lines.append(line)
        total += len(line) + 1
    return "\n".join(lines) + ("\n" if rng.random() < 0.9 else "")


def write_manifest_corpus(
    root: str, seed: int, n_files: int, median_bytes: int, vocab_size: int
) -> tuple[str, list[str]]:
    """Write ``n_files`` text files under ``root`` with lognormal sizes
    and Zipf-distributed words, plus the manifest listing them.
    Returns (manifest path, file paths in manifest order)."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, vocab_size)
    draw = zipf_sampler(rng, vocab_size)
    sizes = rng.lognormal(np.log(median_bytes), 0.9, size=n_files)
    sizes[rng.random(n_files) < 0.01] = 0
    # every seed gets the same total volume, so runs differ in content only
    target = n_files * median_bytes * np.exp(0.9**2 / 2)
    sizes = (sizes * (target / sizes.sum())).astype(int)
    odd = int(rng.integers(n_files))
    os.makedirs(os.path.join(root, "docs"))
    os.makedirs(os.path.join(root, "odd dir+1"))
    paths = []
    for i, size in enumerate(sizes):
        if i == odd:
            p = os.path.join(root, "odd dir+1", "doc a+b.txt")
        else:
            p = os.path.join(root, "docs", f"f{i:05d}.txt")
        text = _file_text(rng, vocab, draw, int(size)) if size else ""
        with open(p, "wb") as f:
            f.write(text.encode("utf-8"))
        paths.append(p)
    manifest = os.path.join(root, "manifest.txt")
    with open(manifest, "w") as f:
        f.write(f"{n_files}\n" + "\n".join(paths) + "\n")
    return manifest, paths


def absent_terms(rng: np.random.Generator, present: set[str], n: int) -> list[str]:
    """``n`` lowercase words that occur nowhere in the corpus."""
    out: list[str] = []
    while len(out) < n:
        for w in vocabulary(rng, n):
            if w not in present and len(out) < n:
                out.append(w)
    return out
