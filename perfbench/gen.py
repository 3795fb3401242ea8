"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical outputs, so two runs of one seed see the same inputs. The
program under test only ever receives the generated files.

- ``repo_zip``: a repository archive like the ones the reference reads
  (``repo-main/...``): markdown with frontmatter, mdx, Python, SQL and
  notebooks, plus entries the reader must skip (hidden files, other
  extensions, directory entries). Words follow a Zipf law over a fixed
  vocabulary, so a few head terms recur everywhere.
- ``query_stream``: distinct search strings of 1-8 terms from the same
  Zipf vocabulary, with a fixed share of out-of-vocabulary terms.

The registry workload generates nothing: it reads a copy of the
project's own test tables under ``data/``.

The repo zip's mix of file kinds and its length distribution are this
benchmark's assumptions, chosen to reach every branch of the reader
(frontmatter, notebooks, code, skipped entries) and the chunker's
fan-out; they are not measured from a real repository.
"""

from __future__ import annotations

import io
import json
import zipfile

import numpy as np

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "w", "z",
           "br", "cl", "dr", "fl", "gr", "pl", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]
_CODAS = ["", "n", "r", "s", "t", "l", "m", "x"]

VOCAB_SIZE = 3000
ZIPF_S = 1.1
HEAD_TERMS = 50  # ranks counted as "head" when describing a query stream
OOV_TERM_SHARE = 0.1  # share of query terms drawn outside the vocabulary


def _syllables() -> list[str]:
    return [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]


def vocabulary() -> list[str]:
    """The fixed corpus vocabulary, most frequent rank first.

    Words are two syllables, lower-case ASCII letters only, so the
    engine's ``\\w\\w+`` tokenizer keeps each word whole. The list is
    the same for every seed; the seed only drives sampling."""
    syl = _syllables()
    rng = np.random.default_rng(12345)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = syl[rng.integers(len(syl))] + syl[rng.integers(len(syl))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _oov_words(n: int, rng: np.random.Generator) -> list[str]:
    """Words that cannot occur in a generated corpus: 'q' is no onset."""
    syl = _syllables()
    return ["q" + syl[rng.integers(len(syl))] + "q" + str(rng.integers(1000)) for _ in range(n)]


def _zipf_probs(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


class _Words:
    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = vocabulary()
        self.cdf = np.cumsum(_zipf_probs(len(self.vocab)))

    def ranks(self, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, self.rng.random(n)), len(self.vocab) - 1)

    def text(self, n: int) -> str:
        words = [self.vocab[r] for r in self.ranks(n)]
        lines, i = [], 0
        while i < len(words):
            k = int(self.rng.integers(8, 16))
            lines.append(" ".join(words[i : i + k]))
            i += k
        return ".\n".join(lines) + "."

    def ident(self) -> str:
        a, b = self.ranks(2)
        return f"{self.vocab[a]}_{self.vocab[b]}"


MD_MEAN_WORDS = 256


def _doc_words(rng: np.random.Generator, n: int) -> list[int]:
    """Log-normal lengths: most files fit one 2000-char chunk, a tail
    spans several (the chunker's fan-out). Scaled to a fixed total, so
    every seed's corpus has the same amount of text."""
    raw = rng.lognormal(mean=5.3, sigma=0.7, size=n)
    return [int(min(2500, max(20, x))) for x in raw * (n * MD_MEAN_WORDS / raw.sum())]


def _markdown(w: _Words, title: str, n_words: int) -> tuple[str, str]:
    """The file, and its body after the frontmatter block."""
    rng = w.rng
    front = (
        "---\n"
        f"title: {title}\n"
        f"description: {w.text(6).rstrip('.')}\n"
        f"tags: {w.vocab[w.ranks(1)[0]]}\n"
        "---\n"
    )
    parts = [f"# {title}"]
    left = n_words
    while left > 0:
        k = min(left, int(rng.integers(30, 120)))
        parts.append(f"## {w.text(3).rstrip('.')}")
        parts.append(w.text(k))
        left -= k
    body = "\n\n".join(parts) + "\n"
    return front + body, body


def _python(w: _Words) -> str:
    out = [f'"""{w.text(int(w.rng.integers(5, 20)))}"""', "", "import os", ""]
    for _ in range(int(w.rng.integers(1, 6))):
        out.append(f"def {w.ident()}({w.ident()}, {w.ident()}):")
        out.append(f"    # {w.text(int(w.rng.integers(4, 12)))}")
        out.append(f"    return {w.ident()} + len(os.sep)")
        out.append("")
    return "\n".join(out)


def _sql(w: _Words) -> str:
    return (
        f"-- {w.text(int(w.rng.integers(4, 15)))}\n"
        f"select {w.ident()}, count(*) as n\nfrom {w.ident()}\n"
        f"where {w.ident()} > 0\ngroup by 1;\n"
    )


def _notebook(w: _Words) -> tuple[str, str]:
    """The notebook's JSON, and the markdown it reads as: markdown cells
    verbatim, code cells fenced with the kernel's language, outputs
    dropped, cells separated by a blank line."""
    cells = []
    for i in range(int(w.rng.integers(2, 6))):
        if i % 2 == 0:
            cells.append({"cell_type": "markdown", "metadata": {}, "source": [w.text(int(w.rng.integers(10, 60)))]})
        else:
            cells.append({"cell_type": "code", "metadata": {}, "execution_count": None, "outputs": [],
                          "source": [f"{w.ident()} = {w.ident()}({i})"]})
    nb = {"cells": cells, "metadata": {"kernelspec": {"language": "python", "name": "python3"}},
          "nbformat": 4, "nbformat_minor": 5}
    markdown = "\n\n".join(
        c["source"][0] if c["cell_type"] == "markdown" else f"```python\n{c['source'][0]}\n```"
        for c in cells
    )
    return json.dumps(nb, sort_keys=True), markdown


# File-kind mix per 100 files; "skip" entries must be dropped by the reader.
_KINDS = [("md", 60), ("mdx", 5), ("py", 12), ("sql", 6), ("ipynb", 5), ("skip", 12)]
# Hidden basenames, extensions outside the allow-list, no extension.
_SKIPPED = [".{}.md", "{}.png", "{}.txt", "{}.csv", ".{}", "{}"]


def repo_zip(seed: int, n_files: int) -> tuple[bytes, dict, list[tuple[str, str, str]]]:
    """A ``repo-main/`` archive of ``n_files`` entries.

    Returns the zip bytes, a description of the input (file counts and
    sizes) and the entries a reader must keep, in archive order: their
    path without the top-level directory, their kind, and the text they
    carry (a markdown body without its frontmatter, a notebook as
    markdown, code as written). Skipped entries and directories are not
    in that list; the generator knows them by construction."""
    rng = np.random.default_rng([seed, 1])
    w = _Words(rng)
    # Exact shares of each kind, in a seeded order.
    kinds = [k for k, c in _KINDS for _ in range(round(c * n_files / 100))][:n_files]
    kinds += ["md"] * (n_files - len(kinds))
    kinds = [kinds[i] for i in rng.permutation(n_files)]
    lengths = iter(_doc_words(rng, sum(k in ("md", "mdx") for k in kinds)))
    counts: dict[str, int] = {}
    kept: list[tuple[str, str, str]] = []
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        def put(name: str, data: str) -> None:
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = (0o40755 if name.endswith("/") else 0o100644) << 16
            zf.writestr(info, data)

        dirs = [f"repo-main/{w.vocab[r]}/" for r in sorted(set(w.ranks(12).tolist()))]
        for d in dirs:
            put(d, "")
        for i in range(n_files):
            kind = kinds[i]
            d = dirs[int(rng.integers(len(dirs)))]
            base = f"{w.ident()}_{i}"
            if kind in ("md", "mdx"):
                body, text = _markdown(w, base.replace("_", " "), next(lengths))
            elif kind == "py":
                body = text = _python(w)
            elif kind == "sql":
                body = text = _sql(w)
            elif kind == "ipynb":
                body, text = _notebook(w)
            else:
                skip = _SKIPPED[int(rng.integers(len(_SKIPPED)))].format(base)
                put(f"{d}{skip}", w.text(40))
                counts["skip"] = counts.get("skip", 0) + 1
                continue
            put(f"{d}{base}.{kind}", body)
            kept.append((f"{d}{base}.{kind}".split("/", 1)[1], kind, text))
            counts[kind] = counts.get(kind, 0) + 1
        raw_bytes = sum(i.file_size for i in zf.infolist())
    data = buf.getvalue()
    return data, {"files": n_files, "dirs": len(dirs), "raw_bytes": raw_bytes, "zip_bytes": len(data),
                  "kinds": counts}, kept


def query_stream(seed: int, n: int) -> tuple[list[str], dict]:
    """``n`` distinct queries of 1-8 terms; returns them and their
    properties (head-term share, OOV share, exact-repeat share). Each
    block of 8 consecutive queries holds one query of each length, so
    every seed's stream has the same mix of lengths."""
    rng = np.random.default_rng([seed, 2])
    w = _Words(rng)
    out: list[str] = []
    seen: set[str] = set()
    terms = head = oov = 0
    lengths: list[int] = []
    while len(out) < n:
        if not lengths:
            lengths = [int(x) for x in rng.permutation(8) + 1]
        k = lengths[-1]
        ranks = w.ranks(k)
        is_oov = rng.random(k) < OOV_TERM_SHARE
        extra = _oov_words(int(is_oov.sum()), rng)
        words, j = [], 0
        for r, o in zip(ranks, is_oov):
            if o:
                words.append(extra[j])
                j += 1
            else:
                words.append(w.vocab[r])
        q = " ".join(words)
        if q in seen:
            continue
        lengths.pop()
        seen.add(q)
        out.append(q)
        terms += k
        oov += int(is_oov.sum())
        head += int(((ranks < HEAD_TERMS) & ~is_oov).sum())
    return out, {
        "queries": n,
        "terms": terms,
        "head_term_share": round(head / terms, 4),
        "oov_term_share": round(oov / terms, 4),
        "exact_repeat_share": 0.0,
    }
