"""Independent references the benchmark checks the program against.

- ``corpus_chunks``: the chunks an index must be built from, made from
  the generator's own record of the repo zip (which entries are kept,
  with what text) by the reference's ingest and chunking rules: the
  top-level directory dropped from each path, code files replaced by
  the fence-stripped answer of the deterministic LLM stand-in, and
  windows of ``size`` characters every ``step``, stopping after the
  first window past the end.
- ``TfidfReference``: a NumPy TF-IDF scorer with the minsearch
  semantics documented in ``operators/tfidf.py``: ASCII ``\\w\\w+``
  tokens of the lower-cased text, raw term counts, smooth idf
  ``ln((1+N)/(1+df)) + 1``, L2-normalised document and query vectors per
  field, scores summed over fields, top k by the score rounded to 8
  decimals, descending, then by key ascending.
- ``result_digest``: an order- and column-order-free digest of a result
  set that keeps value types apart (an int never equals a float), used
  to compare Spark results with the DuckDB oracles.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import numpy as np

_TOKEN = re.compile(r"\w\w+", re.ASCII)


# The LLM stand-in the ingest pipeline calls for code files, as its
# documentation states: a sha256 of "<seed>|<system prompt>|<text>" and
# the text's first line, wrapped in a markdown fence. Its default seed.
STUB_SEED = 42
CODE_KINDS = ("py", "sql", "ipynb")


def stub_summary(system_prompt: str, text: str) -> str:
    """The stand-in's answer for ``text`` with its code fence removed."""
    digest = hashlib.sha256(
        f"{STUB_SEED}|{system_prompt}|{text}".encode("utf-8", "surrogatepass")
    ).hexdigest()
    headline = text.strip().splitlines()[0][:60] if text.strip() else ""
    return f"# Summary {digest[:12]}\n\nDerived from: {headline}\nChecksum: {digest}"


def chunks(text: str, size: int, step: int) -> list[tuple[int, str]]:
    """The reference's chunking loop: emit, then stop once past the end."""
    out = []
    for i in range(0, len(text), step):
        out.append((i, text[i : i + size]))
        if i + size > len(text):
            break
    return out


def corpus_chunks(entries: list[tuple[str, str, str]], system_prompt: str,
                  size: int, step: int) -> list[dict]:
    """``{filename, start, content}`` rows from the generator's kept
    entries ``(filename, kind, text)``."""
    out = []
    for filename, kind, text in entries:
        content = stub_summary(system_prompt, text) if kind in CODE_KINDS else text
        out.extend({"filename": filename, "start": start, "content": chunk}
                   for start, chunk in chunks(content, size, step))
    return out


def tokens(text: str | None) -> list[str]:
    return _TOKEN.findall(text.lower()) if text else []


class TfidfReference:
    """Fits on ``docs`` (a list of dicts) and answers top-k searches."""

    def __init__(self, docs: list[dict], key_cols: list[str], fields: list[str]):
        self.key_cols = key_cols
        self.fields = fields
        self.keys = [tuple(d[c] for c in key_cols) for d in docs]
        n = len(docs)
        self.vocab: dict[str, dict[str, int]] = {}
        self.idf: dict[str, np.ndarray] = {}
        self.weights: dict[str, list[dict[int, float]]] = {}  # field -> term id -> {doc: w}
        self.docs_with_terms: dict[str, int] = {}
        for f in fields:
            counts = [Counter(tokens(d[f])) for d in docs]
            vocab: dict[str, int] = {}
            for c in counts:
                for t in c:
                    vocab.setdefault(t, len(vocab))
            dfreq = np.zeros(len(vocab))
            for c in counts:
                for t in c:
                    dfreq[vocab[t]] += 1
            idf = np.log((1.0 + n) / (1.0 + dfreq)) + 1.0
            postings: list[dict[int, float]] = [dict() for _ in vocab]
            with_terms = 0
            for i, c in enumerate(counts):
                if not c:
                    continue
                with_terms += 1
                ids = [vocab[t] for t in c]
                raw = np.array([c[t] for t in c], dtype=float) * idf[ids]
                raw /= math.sqrt(float(np.dot(raw, raw)))
                for tid, w in zip(ids, raw):
                    postings[tid][i] = float(w)
            self.vocab[f], self.idf[f], self.weights[f] = vocab, idf, postings
            self.docs_with_terms[f] = with_terms

    @property
    def postings(self) -> int:
        return sum(len(p) for f in self.fields for p in self.weights[f])

    def search(self, query: str, k: int = 5) -> list[tuple[tuple, float]]:
        qc = Counter(tokens(query))
        scores: dict[int, float] = {}
        for f in self.fields:
            vocab, idf = self.vocab[f], self.idf[f]
            terms = [t for t in qc if t in vocab]
            if not terms:
                continue
            qw = np.array([qc[t] * idf[vocab[t]] for t in terms])
            qw /= math.sqrt(float(np.dot(qw, qw)))
            for t, w in zip(terms, qw):
                for doc, dw in self.weights[f][vocab[t]].items():
                    scores[doc] = scores.get(doc, 0.0) + dw * float(w)
        ranked = sorted(scores.items(), key=lambda kv: (-round(kv[1], 8), self.keys[kv[0]]))
        return [(self.keys[d], s) for d, s in ranked[:k]]


def topk_matches(got: list[tuple[tuple, float]], want: list[tuple[tuple, float]]) -> bool:
    """Same keys in the same order, scores equal to 1e-9."""
    return len(got) == len(want) and all(
        gk == wk and abs(gs - ws) <= 1e-9 for (gk, gs), (wk, ws) in zip(got, want)
    )


def _norm(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list",) + tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return ("map",) + tuple(sorted((str(a), _norm(b)) for a, b in v.items()))
    return ("str", str(v))


def result_digest(columns: list[str], rows: list[tuple]) -> str:
    """Digest of a result set, independent of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()[:16]
