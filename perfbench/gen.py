"""Seeded generator for the large-vocabulary corpus of the `query_mix`
workload.

Pages are short (a handful of sentences) and mention entities drawn
Zipf-skewed from a vocabulary of pseudo-word names, so a few names are
hot and most are rare. Names are built from random syllables, so two
unrelated names share few character 3-grams and LSH linking keeps them
apart. A small share of vocabulary entries are alias variants of an
earlier name ("Kelamo Tinavu Corp" / "Kelamo Tinavu Corporation",
"Harbor" / "Harbour" spellings) that LSH at its 0.6 Jaccard threshold
should merge.

Every page is a pure function of (seed, doc_id), like
`kgspark.fixtures`, and the HTML is rendered by `fixtures.make_html`.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import itertools
import random

from kgspark.fixtures import LANGS, make_html
from kgspark.textops import RELATION_TRIGGERS

_CONS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_SUFFIXES = ["Corp", "Group", "Partners", "Bank", "Court", "Act", "Agreement"]
FILLER = (
    "the board said a new filing shows that several regional units will "
    "review annual terms while local analysts note steady demand across "
    "many smaller markets this quarter"
).split()
_TRIGGERS = sorted(set(RELATION_TRIGGERS))
ALIAS_SHARE = 0.04  # share of vocabulary entries that start an alias pair
ZIPF_S = 1.0        # Zipf exponent of the name draws


class Vocabulary:
    """`size` distinct entity names in Zipf rank order (rank 0 is the
    hottest), some of which are alias variants of another name in the
    list."""

    def __init__(self, seed: int, size: int):
        rng = random.Random(f"vocab:{seed}")
        names: list[str] = []
        seen: set[str] = set()
        self.alias_of: dict[str, str] = {}

        def fresh_word(n_syl: int, tail: str = "") -> str:
            w = "".join(
                rng.choice(_CONS) + rng.choice(_VOWELS) for _ in range(n_syl)
            )
            return (w + tail).capitalize()

        while len(names) < size:
            make_alias = bool(names) and rng.random() < ALIAS_SHARE
            if make_alias:
                spelling = rng.random() < 0.5
                w1 = fresh_word(3, "or" if spelling else "")
                w2 = fresh_word(3)
                if spelling:  # Harbor / Harbour
                    base, alias = f"{w1} {w2}", f"{w1[:-2]}our {w2}"
                else:         # Corp / Corporation
                    base, alias = f"{w1} {w2} Corp", f"{w1} {w2} Corporation"
                pair = [base, alias]
            else:
                suffix = rng.choice(_SUFFIXES + [""] * 3)
                pair = [f"{fresh_word(3)} {fresh_word(rng.randint(2, 3))}"
                        + (f" {suffix}" if suffix else "")]
            if any(p in seen for p in pair) or len(names) + len(pair) > size:
                continue
            names.extend(pair)
            seen.update(pair)
            if len(pair) == 2:
                self.alias_of[pair[1]] = pair[0]
        # shuffle ranks so aliases are spread over the Zipf curve
        rng.shuffle(names)
        self.names = names
        self.cum_weights = list(
            itertools.accumulate(1.0 / (k + 1) ** ZIPF_S for k in range(size))
        )

    def draw(self, rng: random.Random, k: int = 1) -> list[str]:
        return rng.choices(self.names, cum_weights=self.cum_weights, k=k)

    def draw_half(self, rng: random.Random, tail: bool) -> str:
        """A Zipf draw restricted to the hot or the tail half of the
        probability mass, so a short run still sees both hot and tail
        names."""
        u = (tail + rng.random()) / 2 * self.cum_weights[-1]
        return self.names[min(bisect.bisect_right(self.cum_weights, u), len(self.names) - 1)]


def make_text(vocab: Vocabulary, doc_id: int, seed: int) -> str:
    """A short page: 4-8 sentences, half of them relational
    ("<filler> A <trigger> B <filler>."), so the rule extractor emits
    mentions and edges over the drawn names."""
    rng = random.Random((seed << 32) ^ doc_id)
    sentences = []
    for _ in range(rng.randint(4, 8)):
        kind = rng.random()
        lead = " ".join(rng.choices(FILLER, k=rng.randint(2, 5)))
        tail = " ".join(rng.choices(FILLER, k=rng.randint(2, 5)))
        if kind < 0.5:
            a, b = vocab.draw(rng, 2)
            while b == a:
                b = vocab.draw(rng)[0]
            sentences.append(f"{lead} {a} {rng.choice(_TRIGGERS)} {b} {tail}.")
        elif kind < 0.7:
            sentences.append(f"{lead} {vocab.draw(rng)[0]} {tail}.")
        else:
            sentences.append(" ".join(rng.choices(FILLER, k=rng.randint(6, 12))) + ".")
    paras, i = [], 0
    while i < len(sentences):
        take = rng.randint(2, 3)
        paras.append(" ".join(sentences[i:i + take]))
        i += take
    return "\n\n".join(paras)


def make_page(vocab: Vocabulary, doc_id: int, seed: int) -> dict:
    text = make_text(vocab, doc_id, seed)
    lang = LANGS[doc_id % len(LANGS)]
    return {
        "url": f"https://news.example.com/s{seed}/{lang}/p{doc_id}",
        "warc_ts": _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
        + _dt.timedelta(minutes=doc_id),
        # one page in ten is text-only, as in kgspark.fixtures
        "html": None if doc_id % 10 == 7 else make_html(text, f"p{doc_id}"),
        "text": text,
        "lang": lang,
    }


def make_pages(vocab: Vocabulary, n: int, seed: int) -> list[dict]:
    return [make_page(vocab, i, seed) for i in range(n)]


def pages_frame(spark, pages: list[dict]):
    """The generated rows as a Spark DataFrame (the program's only input)."""
    import pandas as pd  # noqa: PLC0415

    from kgspark.fixtures import PAGES_DDL  # noqa: PLC0415

    cols = ["url", "warc_ts", "html", "text", "lang"]
    return spark.createDataFrame(pd.DataFrame(pages, columns=cols), PAGES_DDL)
