"""Seeded inputs: corpora, JSONL source files with planted malformed lines,
and Zipf-skewed query streams. The same seed gives the same inputs."""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from deluge_spark.corpus import CAMEL_IDENTS, COMMON, HOT, generate_corpus_pdf
from deluge_spark.functions.tokenizer import tokenize_py

BODY_SCALE = 4            # heavier bodies: closer to real source-file density
MALFORMED_SHARE = 0.005   # below the 1% error budget of the ingest gate
SOURCE_FILES = 4
JSONL_SCHEMA = "repo string, path string, commit string, lang string, " \
               "content string"

ZIPF_S = 1.5
TERMS_PER_QUERY = ([1, 2, 3, 4], [0.4, 0.3, 0.2, 0.1])
K_CHOICES = ([10, 100], [0.85, 0.15])
ABSENT_SHARE = 0.05


def sub_seed(seed: int, stream: str) -> int:
    """Independent, stable seed per (run seed, input stream)."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return int.from_bytes(h[:4], "little")


def corpus(seed: int, n_docs: int) -> pd.DataFrame:
    return generate_corpus_pdf(n_docs / 500_000, seed=seed,
                               body_scale=BODY_SCALE)


@dataclass
class JsonlSource:
    dir: str
    lines: int          # all non-blank lines, malformed included
    malformed: int
    docs: pd.DataFrame  # the well-formed rows, as written


def write_jsonl(pdf: pd.DataFrame, out_dir: str, seed: int) -> JsonlSource:
    """Write ``pdf`` as newline-delimited JSON over a few files, with about
    0.5% extra lines that are not valid JSON at seeded positions."""
    rng = np.random.default_rng(seed)
    n_bad = max(1, round(MALFORMED_SHARE * len(pdf)))
    recs = pdf.to_dict("records")
    good = [json.dumps(r) for r in recs]
    bad = [f'{{"repo": "org{i}/broken", "path": "src/bad_{i}.py", '
           f'"content": "unterminated' for i in range(n_bad)]
    slots = rng.choice(len(good) + n_bad, n_bad, replace=False)
    lines = list(good)
    for pos, line in sorted(zip(slots.tolist(), bad)):
        lines.insert(pos, line)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(lines) // SOURCE_FILES)
    for f in range(SOURCE_FILES):
        with open(os.path.join(out_dir, f"part-{f}.jsonl"), "w") as fh:
            fh.write("\n".join(lines[f * step:(f + 1) * step]) + "\n")
    return JsonlSource(out_dir, len(lines), n_bad, pdf)


@dataclass(frozen=True)
class Query:
    text: str
    k: int
    algo: str = "auto"


class QueryGen:
    """Zipf-skewed queries over the corpus vocabulary.

    Popularity order is fixed (hot words, common words, camelCase
    identifiers, the identN tail and rareterm*, interleaved so each class
    reaches the head) and only the draws come from the seed, so every seed
    has the same cache-sharing profile. About 5% of terms are absent from
    the corpus."""

    def __init__(self, seed: int, n_docs: int) -> None:
        classes = [list(HOT), list(COMMON), list(CAMEL_IDENTS),
                   [f"ident{i}" for i in range(2000)],
                   [f"rareterm{r}" for r in range(max(3, n_docs // 100))]]
        ranked: list[str] = []
        while any(classes):
            for c in classes:
                if c:
                    ranked.append(c.pop(0))
        self.vocab = ranked
        w = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
        self.p = w / w.sum()
        self.rng = np.random.default_rng(seed)

    def term(self) -> str:
        if self.rng.random() < ABSENT_SHARE:
            return f"zzabsent{int(self.rng.integers(1_000_000))}"
        return self.vocab[int(self.rng.choice(len(self.vocab), p=self.p))]

    def query(self, used: set[str] | None = None) -> Query:
        """One query; with ``used``, its analysed tokens avoid (and are
        added to) that set, so queries sharing it share no term."""
        n = int(self.rng.choice(TERMS_PER_QUERY[0], p=TERMS_PER_QUERY[1]))
        terms: list[str] = []
        while len(terms) < n:
            t = self.term()
            if used is not None:
                toks = set(tokenize_py(t))
                if toks & used:
                    continue
                used |= toks
            terms.append(t)
        k = int(self.rng.choice(K_CHOICES[0], p=K_CHOICES[1]))
        return Query(" ".join(terms), k)
