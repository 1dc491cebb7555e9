"""Seeded workload generator: corpus, change batches and query stream.

Everything here is pure numpy/pandas and is derived from one integer seed,
so the same seed gives byte-identical inputs. The engine only ever sees the
generated DataFrames and query strings.

Corpus shape (a synthetic source-code tree):
  * five languages with their keyword filler (the index stops keywords);
  * a Zipf-distributed vocabulary of synthetic words, plus camelCase and
    snake_case identifiers built from two Zipf-drawn words;
  * heavy-tailed (lognormal) file sizes, capped;
  * one unique marker word per file, so a single-term query names one file.
The most frequent Zipf words land in most files; their df exceeds the
salt threshold the benchmark gives the engine, so skew salting runs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ("python", "java", "go", "js", "markdown")
LANG_P = (0.35, 0.2, 0.15, 0.15, 0.15)
EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "markdown": "md"}
KEYWORDS = {
    "python": "def return import class if else for while in self".split(),
    "java": "public static void class return new int if else this".split(),
    "go": "func package return if else for range var type struct".split(),
    "js": "function var let const return if else for new this".split(),
    "markdown": "the a and of to in is for with are".split(),
}

VOCAB_SIZE = 12_000
ZIPF_S = 1.07
# token classes: keyword filler, plain word, identifier (two words)
P_KEYWORD = 0.18
P_IDENT = 0.22
TOKENS_MU = 4.35  # lognormal tokens per file: median ~77, mean ~127
TOKENS_SIGMA = 1.0
TOKENS_MIN, TOKENS_MAX = 8, 12_000

# query mix (share of distinct queries in the pool)
QUERY_MIX = (("and", 0.4), ("or", 0.3), ("rare", 0.2), ("ident", 0.1))
HOT_RANKS = 6  # Zipf ranks 0..5 are the "hot" terms OR queries mix in

_CONS = np.array(list("bcdfghjklmnprstvz"))
_VOWS = np.array(list("aeiou"))


def make_vocab(seed: int, size: int = VOCAB_SIZE) -> np.ndarray:
    """``size`` distinct lowercase words of 2-4 consonant-vowel syllables.

    Index order is Zipf rank order (rank 0 = most frequent). A rank's
    syllable count is fixed (2, 3, 4, 2, ...), so every seed has the same
    word-length profile and the same corpus bytes; only the letters are
    seeded. Words never collide with a language keyword, so the analyzer
    keeps every one."""
    rng = np.random.default_rng([seed, 1])
    stop = {w for ws in KEYWORDS.values() for w in ws}
    out: list[str] = []
    seen: set[str] = set()
    for rank in range(size):
        nsyl = 2 + rank % 3
        while True:
            cons = _CONS[rng.integers(0, len(_CONS), size=nsyl)]
            vows = _VOWS[rng.integers(0, len(_VOWS), size=nsyl)]
            w = "".join(c + v for c, v in zip(cons, vows))
            if w not in seen and w not in stop:
                break
        seen.add(w)
        out.append(w)
    return np.array(out, dtype=object)


def marker(i: int) -> str:
    """Unique single-token word naming file ``i`` ('zq' + base-26 digits;
    'zq' never starts a vocabulary word, whose syllables are CV pairs)."""
    s = ""
    i = int(i)
    while True:
        s = chr(97 + i % 26) + s
        i //= 26
        if i == 0:
            break
    return "zq" + s


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


@dataclass(frozen=True)
class CorpusSpec:
    n_files: int
    vocab_size: int = VOCAB_SIZE


class Generator:
    """All inputs of one benchmark run, derived from ``seed``."""

    def __init__(self, seed: int, spec: CorpusSpec):
        self.seed = int(seed)
        self.spec = spec
        self.vocab = make_vocab(self.seed, spec.vocab_size)
        self._cdf = _zipf_cdf(spec.vocab_size, ZIPF_S)
        self._kw = {lg: np.array(ws, dtype=object) for lg, ws in KEYWORDS.items()}
        v = spec.vocab_size
        self._mid = range(HOT_RANKS, min(v, 1500))  # AND-query ranks
        self._tail = range(min(v, 1500), v)  # rare ranks

    # -- corpus ----------------------------------------------------------
    def _words(self, rng, n: int) -> np.ndarray:
        return np.minimum(
            np.searchsorted(self._cdf, rng.random(n)), len(self.vocab) - 1
        )

    def contents(self, file_ids: np.ndarray, version: int) -> tuple[list, list]:
        """(lang, content) for each file id at content ``version``.

        A file's language is fixed by its id; its text depends on
        (seed, version, ids), so an edit is a fresh draw for that file."""
        file_ids = np.asarray(file_ids, dtype=np.int64)
        n = len(file_ids)
        lang_rng = np.random.default_rng([self.seed, 2])
        all_langs = lang_rng.choice(
            len(LANGS), size=self.spec.n_files * 2, p=LANG_P
        )
        langs = [LANGS[k] for k in all_langs[file_ids]]
        rng = np.random.default_rng([self.seed, 3, version, n, int(file_ids.sum())])
        draw = np.clip(rng.lognormal(TOKENS_MU, TOKENS_SIGMA, size=n),
                       TOKENS_MIN, TOKENS_MAX)
        # heavy-tailed per file, but the total is fixed by n, so every seed
        # gives the same amount of work
        mean = np.exp(TOKENS_MU + TOKENS_SIGMA ** 2 / 2)
        n_tok = np.maximum(
            (draw * (mean * n / draw.sum())).astype(np.int64), TOKENS_MIN
        )
        total = int(n_tok.sum())
        cls = rng.random(total)
        w1 = self.vocab[self._words(rng, total)]
        w2 = self.vocab[self._words(rng, total)]
        camel = rng.random(total) < 0.5
        kw_pick = rng.random(total)
        toks = w1.copy()
        ident = (cls >= P_KEYWORD) & (cls < P_KEYWORD + P_IDENT)
        cm = ident & camel
        sn = ident & ~camel
        toks[cm] = w1[cm] + np.array([w.capitalize() for w in w2[cm]], dtype=object)
        toks[sn] = w1[sn] + "_" + w2[sn]
        ends = np.cumsum(n_tok)
        starts = ends - n_tok
        kw_mask = cls < P_KEYWORD
        out = []
        for j in range(n):
            s, e = starts[j], ends[j]
            seg = toks[s:e].copy()
            m = kw_mask[s:e]
            if m.any():
                table = self._kw[langs[j]]
                seg[m] = table[(kw_pick[s:e][m] * len(table)).astype(np.int64)]
            words = seg.tolist()
            words.insert(len(words) // 2, marker(file_ids[j]))
            # code-shaped lines of ~8 words
            out.append(
                "\n".join(
                    " ".join(words[k:k + 8]) for k in range(0, len(words), 8)
                )
            )
        return langs, out

    def frame(self, file_ids, version: int = 0) -> pd.DataFrame:
        """Corpus rows (repo, path, commit, lang, content). repo/path/commit
        identify a file across versions, so an edit keeps its doc id."""
        file_ids = np.asarray(file_ids, dtype=np.int64)
        langs, texts = self.contents(file_ids, version)
        return pd.DataFrame(
            {
                "repo": [f"org{i % 7}/repo{i % 23}" for i in file_ids],
                "path": [
                    f"src/mod{i % 13}/f{i}.{EXT[lg]}"
                    for i, lg in zip(file_ids, langs)
                ],
                "commit": ["main"] * len(file_ids),
                "lang": langs,
                "content": texts,
                "file_id": file_ids,
            }
        )

    # -- change batches --------------------------------------------------
    def batches(
        self, n_batches: int, edit=0.01, add=0.005, delete=0.002
    ) -> list[dict]:
        """Seeded change batches over the live file set. Each batch edits
        ``edit``, adds ``add`` and deletes ``delete`` of the base corpus
        size; a file is touched at most once per batch and a deleted file
        is never edited again. New files take ids from n_files upward."""
        rng = np.random.default_rng([self.seed, 4])
        n = self.spec.n_files
        live = list(range(n))
        next_id = n
        out = []
        for b in range(n_batches):
            ne = max(1, int(round(n * edit)))
            na = max(1, int(round(n * add)))
            nd = max(1, int(round(n * delete)))
            pick = rng.choice(len(live), size=ne + nd, replace=False)
            edited = sorted(live[i] for i in pick[:ne])
            deleted = sorted(live[i] for i in pick[ne:])
            dset = set(deleted)
            live = [f for f in live if f not in dset]
            added = list(range(next_id, next_id + na))
            next_id += na
            live.extend(added)
            out.append(
                {"version": b + 1, "edited": edited, "added": added,
                 "deleted": deleted, "n_live": len(live)}
            )
        return out

    # -- queries -----------------------------------------------------------
    def query(self, i: int) -> dict:
        """Query ``i`` of the seed's query space, in the benchmark's query mix:
        ``{"q": str, "conjunctive": bool, "kind": str}``.

        and   — 2-3 distinct mid-frequency words, AND;
        or    — 1-2 hot words plus 1-2 rare words, OR (MaxScore shape);
        rare  — one file's marker word or a tail word;
        ident — a camelCase/snake_case identifier (analyzes to an AND)."""
        # a str seed is hashed with SHA-512, so it is stable across
        # processes; seeding this is ~20x cheaper than numpy's default_rng
        rng = random.Random(f"{self.seed}/5/{int(i)}")
        vocab, mid, tail = self.vocab, self._mid, self._tail
        r = rng.random()
        cum = 0.0
        for kind, share in QUERY_MIX:
            cum += share
            if r < cum:
                break
        if kind == "and":
            ws = [vocab[j] for j in rng.sample(mid, rng.randint(2, 3))]
            q, conj = " ".join(ws), True
        elif kind == "or":
            hot = rng.sample(range(HOT_RANKS), rng.randint(1, 2))
            rare = rng.sample(tail, rng.randint(1, 2))
            q, conj = " ".join(vocab[j] for j in [*hot, *rare]), False
        elif kind == "rare":
            if rng.random() < 0.5:
                q = marker(rng.randrange(self.spec.n_files))
            else:
                q = vocab[rng.choice(tail)]
            conj = True
        else:
            a, b = vocab[np.searchsorted(self._cdf, [rng.random(), rng.random()])]
            q = a + b.capitalize() if rng.random() < 0.5 else f"{a}_{b}"
            conj = True
        return {"q": q, "conjunctive": conj, "kind": kind}

    def query_pool(self, n_queries: int, start: int = 0) -> list[dict]:
        return [self.query(i) for i in range(start, start + n_queries)]

    def query_stream(self, space: int, length: int, s: float = 0.8) -> np.ndarray:
        """Query ids in [0, space) with Zipf(``s``) popularity: a few
        queries repeat often (result-cache hits), the tail is seen once."""
        rng = np.random.default_rng([self.seed, 6])
        ranks = np.searchsorted(_zipf_cdf(space, s), rng.random(length))
        # popularity rank -> query id by a seeded permutation, so the
        # popular queries are spread over every query kind
        perm = rng.permutation(space)
        return perm[np.minimum(ranks, space - 1)]
