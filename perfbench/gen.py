"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (plus sizes), so the same
seed always gives the same corpus, request stream and commit stream.

* :func:`corpus` — the FIXTURES.md §1 ``docs`` table: a Zipf vocabulary
  of 5,000 words, lognormal(5, 1) document lengths clipped to
  [10, 5000], ``lang`` cycling fr/py/java/md, ``repo``/``path`` as in the
  fixture spec (so each repo's files are contiguous in docId order).
* :func:`requests` — the ``serve`` request stream, terms drawn by Zipf
  rank, phrases cut from real documents.
* :func:`commits` — the ``update`` commit stream: changed files of one
  repo plus new files carrying a token unique to the commit.

The simple analysis chain lowercases and splits on ``[^a-z0-9]+``;
:func:`tokens` is that rule, used by the output checks so they never go
through the engine's own tokenizer.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB_SIZE = 5000
ZIPF_S = 1.0
LEN_MU, LEN_SIGMA, LEN_MIN, LEN_MAX = 5.0, 1.0, 10, 5000
LANGS = ("fr", "py", "java", "md")
EXTS = ("py", "java", "md", "txt")
# French surface forms the fixture spec asks fr rows to carry
# (elisions, hyphen enclitics, locutions, abbreviations, roman numerals)
FR_FORMS = (
    "l'homme", "qu'il", "d'abord", "dis-moi", "parce que",
    "M. Dupont", "chapitre XII", "aujourd'hui",
)
FR_RATE = 0.05
SEPARATORS = {
    "fr": (" ", " ", " ", ", ", ". ", "\n"),
    "py": (" ", " ", "(", "): ", " = ", "\n    "),
    "java": (" ", " ", "(", ");\n", " { ", " }\n"),
    "md": (" ", " ", " ", "* ", "\n# ", "\n"),
}
TOKEN_RE = re.compile(r"[a-z0-9]+")
_ONSETS = "b c d f g h j k l m n p r s t v w x z br ch cl dr fl gr pl pr st tr".split()
_VOWELS = "a e i o u ou ai ea io".split()


def tokens(text: str | None) -> list[str]:
    """The simple chain's token stream of one text."""
    return TOKEN_RE.findall(text.lower()) if text else []


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase words; index = Zipf rank (0 = most
    frequent). No word starts with ``zz``, which commit tokens use."""
    rng = np.random.default_rng([seed, 1])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(1, 4)) + (len(words) > 200)
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cdf(size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** ZIPF_S
    return np.cumsum(p / p.sum())


def corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """The seeded fixture corpus, ``n_docs`` rows of (repo, path, commit,
    lang, content, sha256)."""
    vocab = np.array(vocabulary(seed))
    rng = np.random.default_rng([seed, 2, 0])
    lens = np.clip(
        np.rint(rng.lognormal(LEN_MU, LEN_SIGMA, n_docs)), LEN_MIN, LEN_MAX
    ).astype(np.int64)
    ranks = np.searchsorted(_zipf_cdf(len(vocab)), rng.random(int(lens.sum())))
    words = vocab[np.minimum(ranks, len(vocab) - 1)]
    ends = np.cumsum(lens)
    rows = []
    for i in range(n_docs):
        lang = LANGS[i % len(LANGS)]
        w = words[ends[i] - lens[i] : ends[i]].tolist()
        rows.append(_row(i, lang, _text(rng, w, lang), seed))
    return pd.DataFrame(rows)


def _text(rng: np.random.Generator, words: list[str], lang: str) -> str:
    seps = SEPARATORS[lang]
    pick = rng.integers(len(seps), size=len(words))
    if lang == "fr":
        fr = rng.random(len(words)) < FR_RATE
        fr_pick = rng.integers(len(FR_FORMS), size=len(words))
        words = [
            FR_FORMS[fr_pick[k]] if fr[k] and not w.startswith("zz") else w
            for k, w in enumerate(words)
        ]
    return "".join(w + seps[p] for w, p in zip(words, pick.tolist())).strip()


def _row(i: int, lang: str, content: str, seed: int) -> dict:
    return {
        "repo": f"org{i % 7}/repo{i % 53}",
        "path": f"src/{i // 100}/file_{i}.{EXTS[i % len(EXTS)]}",
        "commit": hashlib.sha1(f"{seed}:c{i}".encode()).hexdigest()[:8],
        "lang": lang,
        "content": content,
        "sha256": hashlib.sha256(content.encode()).hexdigest(),
    }


def doc_order(df: pd.DataFrame) -> pd.DataFrame:
    """The corpus in docId order: docId = rank over (repo, path), 0-based."""
    return df.sort_values(["repo", "path"], kind="stable").reset_index(drop=True)


# -- serve request stream ---------------------------------------------------

CLASSES = ("or_head", "or_tail", "bool", "wild", "phrase", "kwic", "cooc")
HEAD_RANKS = 50
TAIL_RANK = 1000


@dataclass(frozen=True)
class Request:
    cls: str
    terms: tuple[str, ...]  # query terms (phrase: in order; wild: prefix)
    query: str  # the query string for the reader's parser ("" if none)


def requests(seed: int, docs: pd.DataFrame, n_rounds: int) -> list[Request]:
    """``n_rounds`` rounds; each round holds one request of every class in
    a seeded order. ``docs`` is the corpus in docId order (phrases are
    cut from its texts)."""
    vocab = vocabulary(seed)
    rng = np.random.default_rng([seed, 3])
    cdf = _zipf_cdf(len(vocab))
    texts = docs["content"].tolist()

    def zipf_term(lo: int = 0, hi: int = len(vocab)) -> str:
        # Zipf-weighted draw restricted to ranks [lo, hi)
        u = rng.uniform(cdf[lo - 1] if lo else 0.0, cdf[hi - 1])
        return vocab[min(int(np.searchsorted(cdf, u)), hi - 1)]

    def make(cls: str) -> Request:
        if cls == "or_head":
            ts = (vocab[int(rng.integers(HEAD_RANKS))], zipf_term(), zipf_term())
            return Request(cls, ts, " ".join(ts))
        if cls == "or_tail":
            ts = tuple(zipf_term(TAIL_RANK) for _ in range(3))
            return Request(cls, ts, " ".join(ts))
        if cls == "bool":
            a, b, c = zipf_term(0, 200), zipf_term(0, 500), zipf_term(0, 500)
            return Request(cls, (a, b, c), f"+{a} +{b} -{c}")
        if cls == "wild":
            w = zipf_term(0, 1000)
            prefix = w[: max(3, len(w) - 2)]
            return Request(cls, (prefix,), prefix + "*")
        if cls == "phrase":
            while True:
                toks = tokens(texts[int(rng.integers(len(texts)))])
                if len(toks) >= 2:
                    p = int(rng.integers(len(toks) - 1))
                    ts = (toks[p], toks[p + 1])
                    return Request(cls, ts, " ".join(ts))
        if cls == "kwic":
            ts = (zipf_term(TAIL_RANK // 2, 2 * TAIL_RANK),)
            return Request(cls, ts, ts[0])
        if cls == "cooc":
            ts = (zipf_term(0, HEAD_RANKS),)
            return Request(cls, ts, ts[0])
        raise ValueError(cls)

    out = []
    for _ in range(n_rounds):
        order = rng.permutation(len(CLASSES))
        out.extend(make(CLASSES[c]) for c in order)
    return out


def batch_queries(seed: int, n_batches: int, size: int) -> list[dict[int, list[str]]]:
    """Fixed-size OR-query batches for ``wand_topk_batch``: a mix of head
    and tail terms, 2-3 terms per query."""
    vocab = vocabulary(seed)
    rng = np.random.default_rng([seed, 4])
    cdf = _zipf_cdf(len(vocab))
    out = []
    for _ in range(n_batches):
        b = {}
        for q in range(size):
            n = int(rng.integers(2, 4))
            idx = np.searchsorted(cdf, rng.random(n))
            b[q] = [vocab[min(int(i), len(vocab) - 1)] for i in idx]
        out.append(b)
    return out


# -- update commit stream ---------------------------------------------------


@dataclass(frozen=True)
class Commit:
    token: str  # appears in exactly this commit's docs
    rows: pd.DataFrame  # changed + new files, source schema


def commits(
    seed: int, base: pd.DataFrame, n_commits: int, changed: int, new: int
) -> list[Commit]:
    """Commit ``c`` rewrites up to ``changed`` existing files of one repo
    and adds ``new`` files to it (paths that do not exist yet). Every
    doc of the commit carries the token ``zzc<seed>x<c>``, so a query for
    it must return exactly the commit's docs. Later commits build on
    earlier ones (a re-changed file carries only its latest token)."""
    vocab = np.array(vocabulary(seed))
    cdf = _zipf_cdf(len(vocab))
    rng = np.random.default_rng([seed, 5])
    by_repo = base.groupby("repo")["path"].apply(list).to_dict()
    repos = sorted(by_repo)
    n_base = len(base)
    next_i = n_base
    out = []
    for c in range(n_commits):
        token = f"zzc{seed}x{c}"
        repo = repos[int(rng.integers(len(repos)))]
        paths = by_repo[repo]
        pick = rng.choice(len(paths), size=min(changed, len(paths)), replace=False)
        rows = []
        for p in sorted(pick.tolist()):
            rows.append(_commit_row(rng, vocab, cdf, token, repo, paths[p], seed, c))
        for _ in range(new):
            path = f"src/new/file_{next_i}.{EXTS[next_i % len(EXTS)]}"
            next_i += 1
            by_repo[repo].append(path)
            rows.append(_commit_row(rng, vocab, cdf, token, repo, path, seed, c))
        out.append(Commit(token, pd.DataFrame(rows)))
    return out


def _commit_row(rng, vocab, cdf, token, repo, path, seed, c) -> dict:
    n = int(np.clip(np.rint(rng.lognormal(LEN_MU, LEN_SIGMA)), LEN_MIN, LEN_MAX))
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), len(vocab) - 1)
    words = vocab[ranks].tolist()
    words.insert(int(rng.integers(len(words) + 1)), token)
    lang = LANGS[int(rng.integers(len(LANGS)))]
    content = _text(rng, words, lang)
    commit = hashlib.sha1(f"{seed}:commit{c}".encode()).hexdigest()[:8]
    return {
        "repo": repo,
        "path": path,
        "commit": commit,
        "lang": lang,
        "content": content,
        "sha256": hashlib.sha256(content.encode()).hexdigest(),
    }
