"""Seeded corpus generator for the benchmark.

Produces ``(repo, path, commit, lang, content)`` rows - the corpus shape
``kgforge.pipeline.run_insert`` ingests - from a seed alone, without
importing the program.  The knobs that drive the pipeline's behaviour are
explicit in :class:`CorpusSpec`:

- the Go share and the file-size spread (Go files are real parseable Go,
  the rest is prose; sizes are log-normal around the mean file of
  ``kgforge/corpus.py``'s BASELINE corpus: 4 functions per Go file and
  150 sentences, several 1024-token chunks, per prose file);
- the identifier vocabulary size and the Zipf exponent of identifier
  popularity (the hot identifiers become the merge's hot keys);
- the mega-repo share (one repo holds ``mega_factor`` times the files of
  each other repo).
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import math
import os
import random
import re
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = ("repo", "path", "commit", "lang", "content")

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch dr fl gr kl pr sh st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()
_TEMPLATES = (
    "The {a} stage feeds the {b} operator into the {c} sink.",
    "Each {a} batch is merged with {b} before {c} flushes it.",
    "When {a} stalls, {b} retries through the {c} queue.",
    "{a} owns the {b} index and shares it with {c}.",
    "A {a} request reads {b} records and writes {c} summaries.",
)
# the extractor's notion of a word: a lower-case letter run of >= 4 letters
_WORD = re.compile(r"[a-z]{4,}")


@dataclass(frozen=True)
class CorpusSpec:
    n_files: int
    go_share: float = 0.5
    # log-normal size spread with these means: functions per Go file and
    # sentences per prose file (kgforge/corpus.py: 4 and TEXT_SENTENCES)
    go_funcs_mean: float = 4.0
    text_sents_mean: float = 150.0
    size_sigma: float = 0.6
    vocab_size: int = 4000
    zipf_s: float = 1.05
    n_repos: int = 8
    mega_factor: int = 10

    def size_mu(self, is_go: bool) -> float:
        """The log-normal ``mu`` that gives the mean size."""
        mean = self.go_funcs_mean if is_go else self.text_sents_mean
        return math.log(mean) - self.size_sigma ** 2 / 2


class _Words:
    """Letter-only identifiers with Zipf popularity by rank."""

    def __init__(self, rng: random.Random, spec: CorpusSpec):
        seen: set = set()
        words = []
        while len(words) < spec.vocab_size:
            w = "".join(
                rng.choice(_ONSETS) + rng.choice(_VOWELS)
                for _ in range(rng.randint(2, 4))
            )
            if len(w) >= 4 and w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        self.cum = list(
            itertools.accumulate(
                1.0 / (r ** spec.zipf_s) for r in range(1, len(words) + 1)
            )
        )
        self.rng = rng

    def pick(self) -> str:
        x = self.rng.random() * self.cum[-1]
        return self.words[bisect.bisect_left(self.cum, x)]


def _go_func(words: _Words, rng: random.Random, name: str) -> str:
    b, c = words.pick(), words.pick()
    return (
        f"\n// {name} derives the {b} metric from {c} samples.\n"
        f"func {name}(x int, s string) int {{\n"
        f'\tif strings.Contains(s, "{b}") {{\n'
        f'\t\tfmt.Println("{c}")\n\t}}\n'
        f"\treturn x*{rng.randint(2, 97)} + len(s)\n}}\n"
    )


def _go_file(words: _Words, rng: random.Random, n_funcs: int) -> str:
    w = [words.pick() for _ in range(6)]
    head = (
        f"package {w[0]}\n\n"
        'import (\n\t"fmt"\n\t"strings"\n)\n\n'
        f"const max{w[1]} = {rng.randint(2, 999)}\n\n"
        f'var default{w[2]} = "{w[3]}"\n\n'
        f"type {w[4]}config struct {{\n\t{w[5]} string\n\tlimit int\n}}\n"
    )
    return head + "".join(
        _go_func(words, rng, f"{words.pick()}{i}") for i in range(n_funcs)
    )


def _text_file(words: _Words, rng: random.Random, n_sents: int) -> str:
    return " ".join(
        rng.choice(_TEMPLATES).format(
            a=words.pick(), b=words.pick(), c=words.pick()
        ).capitalize()
        for _ in range(n_sents)
    )


class Corpus:
    """A generated corpus: ``rows`` plus the vocabulary it drew from."""

    def __init__(self, spec: CorpusSpec, seed: int):
        self.spec = spec
        self.seed = seed
        self.rng = random.Random(seed)
        self.words = _Words(self.rng, spec)
        self.rows = [self._row(i, go) for i, go in enumerate(self._layout())]
        self._next_id = spec.n_files

    def _layout(self) -> list:
        """Per file: (is_go, size in functions or sentences).  The Go
        share is exact; sizes are log-normal, rescaled so that each language's total matches its
        expected total: the corpus keeps its skew, while its volume -
        and so the work of one ingest - stays the same across seeds."""
        spec, rng = self.spec, self.rng
        n_go = round(spec.go_share * spec.n_files)
        langs = [True] * n_go + [False] * (spec.n_files - n_go)
        rng.shuffle(langs)
        raw = [rng.lognormvariate(spec.size_mu(go), spec.size_sigma)
               for go in langs]
        mean = {True: spec.go_funcs_mean, False: spec.text_sents_mean}
        scale = {}
        for go in (True, False):
            got = sum(r for r, g in zip(raw, langs) if g == go)
            want = mean[go] * sum(g == go for g in langs)
            scale[go] = want / got if got else 1.0
        return [(go, max(1, round(r * scale[go]))) for go, r in zip(langs, raw)]

    def _row(self, i: int, layout: tuple) -> dict:
        spec, rng = self.spec, self.rng
        is_go, size = layout
        shares = spec.mega_factor + spec.n_repos - 1
        slot = rng.randrange(shares)
        repo = 0 if slot < spec.mega_factor else slot - spec.mega_factor + 1
        if is_go:
            lang, ext = "go", "go"
            content = _go_file(self.words, rng, size)
        else:
            lang, ext = "text", "md"
            content = _text_file(self.words, rng, size)
        return {
            "repo": f"example.com/r{repo}",
            "path": f"pkg{i % 37}/f{i}.{ext}",
            "commit": hashlib.sha1(f"{self.seed}/{i}".encode()).hexdigest()[:12],
            "lang": lang,
            "content": content,
        }


    def delta(self, base: list, edit_share: float = 0.05,
              new_share: float = 0.01) -> tuple:
        """``base`` with files edited in place until the edited files
        hold ``edit_share`` of its content bytes, plus ``new_share`` of
        its file count as new files.  Returns ``(rows, n_edited,
        n_new)``; each call draws a different delta."""
        spec, rng = self.spec, self.rng
        target = edit_share * content_bytes(base)
        order = list(range(len(base)))
        rng.shuffle(order)
        edited, size = set(), 0
        for i in order:
            if size >= target:
                break
            edited.add(i)
            size += len(base[i]["content"].encode())
        rows = [self._edit(r) if i in edited else r for i, r in enumerate(base)]
        n_new = max(1, round(new_share * len(base)))
        for _ in range(n_new):
            is_go = rng.random() < spec.go_share
            size = max(1, round(
                rng.lognormvariate(spec.size_mu(is_go), spec.size_sigma)))
            rows.append(self._row(self._next_id, (is_go, size)))
            self._next_id += 1
        return rows, len(edited), n_new

    def _edit(self, row: dict) -> dict:
        """Same repo, path and commit (so the same doc_id); the content
        gains one function or two sentences."""
        if row["lang"] == "go":
            name = f"{self.words.pick()}edit{self._next_id}"
            self._next_id += 1
            extra = _go_func(self.words, self.rng, name)
        else:
            extra = " " + _text_file(self.words, self.rng, 2)
        return dict(row, content=row["content"] + extra)


def stats(rows: list) -> dict:
    """Input properties the pipeline's cost depends on.  A mention is
    one occurrence of an extractor word (lower-case letter run of >= 4
    letters) in the content."""
    mentions = Counter()
    for r in rows:
        mentions.update(_WORD.findall(r["content"].lower()))
    total = sum(mentions.values())
    top10 = sum(n for _, n in mentions.most_common(10))
    return {
        "files": len(rows),
        "content_bytes": content_bytes(rows),
        "go_share": round(sum(r["lang"] == "go" for r in rows) / len(rows), 4),
        "distinct_identifiers": len(mentions),
        "top10_mention_share": round(top10 / total, 4) if total else 0.0,
    }


def content_bytes(rows: list) -> int:
    return sum(len(r["content"].encode()) for r in rows)


def write_parquet(rows: list, path: str, parts: int) -> None:
    """Write ``rows`` as ``parts`` parquet files in directory ``path`` -
    a corpus arrives in many files, so Spark reads it in many splits."""
    os.makedirs(path)
    step = -(-len(rows) // parts)
    for k in range(parts):
        chunk = rows[k * step:(k + 1) * step]
        table = pa.table({c: [r[c] for r in chunk] for c in COLUMNS})
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
