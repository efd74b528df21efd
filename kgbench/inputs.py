"""Seeded benchmark inputs: every workload is a pure function of its seed.

The program only ever sees the generated page rows; the expectations
recorded next to them (planted entity groups, planted change sets) are
what the benchmark scores the program's output against.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from typing import Any

from blarify_spark import corpus

# heavy_pages / recrawl_delta base corpus: web-weight pages over a bounded
# entity set, so extraction and linking carry the work.
HEAVY_FACTS = (48, 96)
HEAVY_SYNTH_ENTITIES = 2000

# entity_tail: light pages over a long tail of mutually dissimilar names.
TAIL_FACTS = (3, 6)
INC_EVERY = 10  # every tenth name also appears as "<name> Inc"
NEAR_MISS_OFFSET = 5  # ... and names at offset 5 get a one-letter misspelling

# recrawl_delta change rates over the base snapshot
MODIFIED_FRAC = 0.05
ADDED_FRAC = 0.01
DELETED_FRAC = 0.01

_ONSETS = "b c d f g h k l m n p r s t v z br dr gr kr pl st tr".split()
_VOWELS = "a e i o u".split()
_PREDS = ["acquired", "was founded by", "relates to", "leads", "cites"]
_CITIES = ["Springdale", "Rivertown", "Lakeside", "Hillview", "Staraya"]
_BASE_TS = datetime(2025, 1, 1)


def heavy_pages(n_pages: int, seed: int) -> list[dict[str, Any]]:
    return corpus.generate_pages(
        n_pages,
        seed,
        facts_range=HEAVY_FACTS,
        synth_entities=HEAVY_SYNTH_ENTITIES,
    )


def heavy_groups(seed: int) -> list[list[str]]:
    """Spelling groups planted in heavy_pages' synthetic fact pool: every
    tenth synthetic entity is written "<name> Inc" as a subject while its
    plain name occurs as an object elsewhere."""
    groups = []
    for subj, _pred, _obj in corpus.synth_fact_pool(HEAVY_SYNTH_ENTITIES, seed):
        base = subj.removesuffix(" Inc")
        groups.append([base, subj] if base != subj else [subj])
    return groups


def _render(title: str, sentences: list[str]) -> bytes:
    body = "".join(f"<p>{s}</p>" for s in sentences)
    return (
        f"<html><head><title>{title}</title></head><body>"
        f"<nav><ul><li>Home</li><li>Index</li></ul></nav>"
        f"<main>{body}</main></body></html>"
    ).encode("utf-8")


def _words(rng: random.Random, n: int) -> list[str]:
    """n distinct capitalised three-syllable words."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(3))
        if w not in seen:
            seen.add(w)
            out.append(w.capitalize())
    return out


def _near_miss(name: str) -> str:
    """Change the middle vowel of the second word (char-3-gram Jaccard
    about 0.6 against the original): a misspelling LSH catches only
    probabilistically."""
    first, second = name.split(" ")
    mid = len(second) // 2
    for i in list(range(mid, len(second))) + list(range(mid - 1, 0, -1)):
        if second[i] in "aeiou":
            swap = "o" if second[i] != "o" else "e"
            return f"{first} {second[:i]}{swap}{second[i + 1:]}"
    return f"{first} {second}x"


def entity_tail(
    n_pages: int, n_names: int, seed: int
) -> tuple[list[dict[str, Any]], list[list[str]]]:
    """Light pages over `n_names` two-word names that share no word.

    Returns (pages, groups): each group lists the surface spellings of one
    entity — the base name, plus "<name> Inc" for every INC_EVERY-th name
    and a near-miss misspelling for the names at NEAR_MISS_OFFSET.
    Every surface is the subject of at least one fact.
    """
    rng = random.Random(seed * 1_000_003 + 17)
    words = _words(rng, 2 * n_names)
    groups: list[list[str]] = []
    for i in range(n_names):
        name = f"{words[2 * i]} {words[2 * i + 1]}"
        group = [name]
        if i % INC_EVERY == 0:
            group.append(f"{name} Inc")
        elif i % INC_EVERY == NEAR_MISS_OFFSET:
            group.append(_near_miss(name))
        groups.append(group)
    surfaces = [s for g in groups for s in g]
    subjects = surfaces[:]
    rng.shuffle(subjects)

    pages: list[dict[str, Any]] = []
    for k in range(n_pages):
        n_facts = rng.randint(*TAIL_FACTS)
        sentences = []
        for _ in range(n_facts):
            subj = subjects.pop() if subjects else rng.choice(surfaces)
            pred = rng.choice(_PREDS)
            obj = rng.choice(_CITIES) if pred == "leads" else rng.choice(surfaces)
            if obj == subj:
                obj = rng.choice(_CITIES)
            sentences.append(f"{subj} {pred} {obj}.")
        pages.append(
            {
                "url": f"https://tail{k % 13}.test/p/{k}",
                "warc_ts": _BASE_TS + timedelta(minutes=k),
                "html": _render(f"Notes {k}", sentences),
                "text": None,
                "lang": "en",
                "family": "tail",
            }
        )
    if subjects:
        raise ValueError(
            f"{n_pages} pages cannot carry all {len(surfaces)} surfaces"
        )
    return pages, groups


def recrawl_snapshot(
    base: list[dict[str, Any]], seed: int
) -> tuple[list[dict[str, Any]], dict[str, str]]:
    """Second crawl of `base`: MODIFIED_FRAC of pages get new content,
    ADDED_FRAC new pages appear, DELETED_FRAC disappear, scattered across
    hosts. Returns (pages, expected {url: ADDED|MODIFIED|DELETED})."""
    rng = random.Random(seed * 1_000_003 + 29)
    n = len(base)
    n_mod = max(1, round(n * MODIFIED_FRAC))
    n_add = max(1, round(n * ADDED_FRAC))
    n_del = max(1, round(n * DELETED_FRAC))
    # new content is drawn from a differently seeded corpus of the same kind
    donors = heavy_pages(n_mod + n_add + 64, seed + 7919)
    donors = [p for p in donors if p["family"] == "simple"]

    picked = rng.sample(range(n), n_mod + n_del)
    modified = set(picked[:n_mod])
    deleted = set(picked[n_mod:])
    expected: dict[str, str] = {}
    out: list[dict[str, Any]] = []
    for i, page in enumerate(base):
        if i in deleted:
            expected[page["url"]] = "DELETED"
            continue
        row = dict(page)
        if i in modified:
            donor = donors.pop()
            row["html"], row["lang"] = donor["html"], donor["lang"]
            row["warc_ts"] = page["warc_ts"] + timedelta(days=30)
            if row["html"] == page["html"]:
                raise ValueError(f"modified page {page['url']} kept its bytes")
            expected[page["url"]] = "MODIFIED"
        out.append(row)
    last_ts = max(p["warc_ts"] for p in base)
    for j in range(n_add):
        donor = donors.pop()
        url = f"https://ex{rng.randrange(7)}.test/added/s{seed}-{j}"
        out.append(
            {
                "url": url,
                "warc_ts": last_ts + timedelta(days=30, minutes=j),
                "html": donor["html"],
                "text": None,
                "lang": donor["lang"],
                "family": "added",
            }
        )
        expected[url] = "ADDED"
    return out, expected
