"""Seeded docs corpora for the benchmark.

A page is a markdown (``.md``) or plain-text (``.txt``) file made of an
optional YAML frontmatter block and ``##`` heading sections. Every section
the build keeps carries one unique lowercase marker token, so a check can
find each section's chunk in the index without trusting the program.
Markdown pages also carry heading-only sections, which the build must drop.

Page sizes (sections per page) are lognormal quantiles: the same multiset
for every seed, assigned to pages in seeded order. The work per op is then
the same across seeds while the text, the markers and the skew's position
change with the seed.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field
from statistics import NormalDist

# Vocabulary without any token that could collide with a marker ("zq...").
WORDS = (
    "spark table index vector chunk query node embed store docs page guide "
    "install config cluster driver executor partition shuffle stage task job "
    "filter join merge sort scan group window stream batch record schema "
    "column row value key hash split token model search score rank match "
    "cache memory disk file path folder build deploy update upgrade release "
    "network service server client request response error retry timeout "
    "policy access user role token secret volume image container runtime "
    "operator resource limit quota event log metric trace alert monitor "
    "backup restore snapshot replica leader follower commit version branch"
).split()

# The shipped chunk size (cli.py: -c 380): a section longer than this many
# whitespace tokens becomes several chunks.
CHUNK_TOKENS = 380


@dataclass
class Corpus:
    folder: str
    pages: int = 0
    bytes: int = 0
    # marker -> whitespace-normalised text of the section that carries it
    sections: dict[str, str] = field(default_factory=dict)
    # heading lines of the sections the build must drop
    heading_only: set[str] = field(default_factory=set)
    expected_chunks: int = 0


def _section_counts(n_pages: int, median: float, sigma: float) -> list[int]:
    nd = NormalDist()
    return [
        max(1, round(median * math.exp(sigma * nd.inv_cdf((i + 0.5) / n_pages))))
        for i in range(n_pages)
    ]


def _words(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(WORDS) for _ in range(n)]


def _marker(rng: random.Random, used: set[str]) -> str:
    while True:
        m = "zq" + "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(10))
        if m not in used:
            used.add(m)
            return m


def _keep(corpus: Corpus, marker: str, text: str) -> None:
    norm = " ".join(text.split())
    corpus.sections[marker] = norm
    corpus.expected_chunks += max(1, math.ceil(len(norm.split()) / CHUNK_TOKENS))


def make_corpus(
    folder: str,
    seed: int,
    n_pages: int,
    median_sections: float,
    sigma: float,
    words: tuple[int, int],
) -> Corpus:
    """Write ``n_pages`` pages under ``folder``; return what the build of
    that folder must produce."""
    rng = random.Random(seed)
    os.makedirs(folder)
    # (sections, frontmatter, markdown) per page: a fixed multiset
    shapes = [
        (n, i % 2 == 0, i % 4 != 1)
        for i, n in enumerate(_section_counts(n_pages, median_sections, sigma))
    ]
    rng.shuffle(shapes)
    used: set[str] = set()
    corpus = Corpus(folder)
    for i, (n_sections, frontmatter, markdown) in enumerate(shapes):
        name = f"page-{i:05d}-{rng.randrange(16**6):06x}." + ("md" if markdown else "txt")
        parts = []
        if frontmatter:
            m = _marker(rng, used)
            title = " ".join(_words(rng, 3))
            fm = f"---\ntitle: {title} {m}\nurl: https://docs.example.com/{name}.html\n---"
            parts.append(fm)
            _keep(corpus, m, fm)
        if markdown:
            # the page title line is a heading-only section
            head = "# " + " ".join(_words(rng, 2)).title()
            parts.append(head)
            corpus.heading_only.add(head)
        for _ in range(n_sections):
            if markdown and rng.random() < 0.25:
                head = "### " + " ".join(_words(rng, 2))
                parts.append(head)
                corpus.heading_only.add(head)
            m = _marker(rng, used)
            body = _words(rng, rng.randint(*words))
            body.insert(rng.randrange(len(body) + 1), m)
            section = "## " + " ".join(_words(rng, 3)) + "\n\n" + " ".join(body)
            parts.append(section)
            _keep(corpus, m, section)
        text = "\n\n".join(parts) + "\n"
        with open(os.path.join(folder, name), "w") as fh:
            fh.write(text)
        corpus.pages += 1
        corpus.bytes += len(text.encode())
    return corpus
