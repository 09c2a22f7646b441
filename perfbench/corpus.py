"""Seeded tagged-sentence generator for the benchmark corpora.

Produces lines in the reference corpus format (whitespace-separated
``word/tag`` segments, tag in o/ns/nt/nr) that ``kg.synth.synth_docs`` and
``kg.synth.corpus_vocab`` take through their ``sentences=`` argument, so the
benchmark never needs the reference corpus file.

What is measured and what is assumed:

- measured: segment tags follow the reference's mix (PAPER.md §1.1: 8786
  o, 2877 ns, 1973 nr, 1331 nt segments over 4365 lines, ~3.4 segments a
  line); a 4,096-line pool holds ~6,000 entity segments against the
  reference's 6,181;
- checked against a recorded run: ``synth_docs(120, seed=42)`` over a pool
  gives the same 361 text spans and 516-557 mentions and 317-380 triples
  (seeds 1-3) where the reference corpus gave 576 and 330 (a test pins
  this);
- assumed, with no measured distribution behind them: the lexicon sizes
  (a cap: a 4,096-line pool uses ~1,700 distinct surfaces, ~3.6
  occurrences each), the Zipf exponent, the near-variant share, the Latin
  share, the variant rules and the novel share per batch.  They decide the
  distinct mentions, LSH candidate pairs, verify yield and component sizes,
  so linking figures hold for this corpus, not for a real one; re-tune them
  only against a measured entity-reuse distribution.

Properties the pipeline's behaviour depends on:

- surfaces are CJK (the tokenizer's per-character path), with a small share
  of Latin surfaces (the WordPiece path);
- entity surfaces are drawn Zipf-skewed from per-tag lexicons that hold
  near-variants (one character added or replaced), so MinHash/LSH linking
  forms real multi-member components;
- the last line of every pool is longer than 512 tokens (truncation path);
- ``batch_sentences`` swaps a fixed share of the pool for lines that carry
  never-seen surfaces, as a growing corpus adds vocabulary; its first lines
  (the most sampled) carry variants of the most frequent surfaces that sort
  before every existing surface, so each batch renames old linking
  components and the append pays the full edges recompute.

Everything is a pure function of the seed: same seed, same bytes.
"""

from __future__ import annotations

import bisect
import itertools
import random

# PAPER.md §1.1 segment counts over the reference corpus.
TAG_MIX = {"o": 8786, "ns": 2877, "nr": 1973, "nt": 1331}
SEGMENTS_PER_LINE = sum(TAG_MIX.values()) / 4365
LONG_LINE_SEGMENTS = 600  # ~1.5k tokens: well past MAX_LEN = 512
RENAME_PREFIX = "\u4e00"  # smallest CJK ideograph; kept out of the alphabet
RENAME_LINES = 4  # pool lines 0..3 carry the renaming variants
RENAME_TOP = 8  # most frequent surfaces per tag that get a renaming variant

_ENTITY_SUFFIX = {
    "ns": "市省县镇州洲岛村",
    "nt": "局部院校社团行会",
    "nr": "",
}
# Unmeasured assumptions (see the module docstring).
NOVEL_SHARE = 0.05  # share of pool lines replaced in each growth batch
_ENTITY_LEN = {"ns": (2, 4), "nt": (3, 6), "nr": (2, 3)}
_LEXICON_SIZE = {"ns": 3000, "nt": 2000, "nr": 4000}
_LATIN_SHARE = 0.05
_VARIANT_SHARE = 0.3
_ZIPF_S = 1.1


class _Zipf:
    """Rank sampler with P(rank r) proportional to 1 / (r + 1) ** s."""

    def __init__(self, n: int, s: float = _ZIPF_S):
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def __call__(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def _cjk_alphabet(rng: random.Random, n: int) -> list[str]:
    # common-range CJK unified ideographs (U+4E01..U+9FA5)
    return [chr(c) for c in rng.sample(range(0x4E01, 0x9FA6), n)]


class Generator:
    """Seeded source of base pools, growth batches and the matching vocab."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(f"perfbench-corpus:{seed}")
        self._chars = _cjk_alphabet(rng, 2500)
        self._o_chars = self._chars[:600]
        self._o_rank = _Zipf(len(self._o_chars))
        self._tags = list(TAG_MIX)
        self._tag_cum = list(itertools.accumulate(TAG_MIX.values()))
        self.lexicon = {t: self._lexicon(rng, t, _LEXICON_SIZE[t], set()) for t in ("ns", "nt", "nr")}
        self._rank = {t: _Zipf(len(v)) for t, v in self.lexicon.items()}

    # -- surfaces --------------------------------------------------------
    def _surface(self, rng: random.Random, tag: str) -> str:
        if rng.random() < _LATIN_SHARE:
            return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 8)))
        lo, hi = _ENTITY_LEN[tag]
        body = "".join(rng.choice(self._chars) for _ in range(rng.randint(lo, hi)))
        suffix = _ENTITY_SUFFIX[tag]
        return body + (rng.choice(suffix) if suffix else "")

    def _variant(self, rng: random.Random, surface: str) -> str:
        if rng.random() < 0.5 or len(surface) < 3:
            return surface + rng.choice(self._chars)
        i = rng.randrange(len(surface))
        return surface[:i] + rng.choice(self._chars) + surface[i + 1 :]

    def _lexicon(self, rng: random.Random, tag: str, n: int, taken: set[str]) -> list[str]:
        """``n`` distinct surfaces not in ``taken``; a share of them are
        near-variants of earlier entries (the linking components)."""
        out: list[str] = []
        seen = set(taken)
        while len(out) < n:
            if out and rng.random() < _VARIANT_SHARE:
                s = self._variant(rng, out[rng.randrange(len(out))])
            else:
                s = self._surface(rng, tag)
            if s not in seen:
                seen.add(s)
                out.append(s)
        rng.shuffle(out)  # variants spread over the Zipf ranks
        return out

    # -- lines -----------------------------------------------------------
    def _other(self, rng: random.Random) -> str:
        n = rng.randint(1, 6)
        word = "".join(self._o_chars[self._o_rank(rng)] for _ in range(n))
        if rng.random() < 0.03:
            word += str(rng.randrange(100))
        return word + ("，" if rng.random() < 0.2 else "")

    def _segment(self, rng: random.Random) -> str:
        tag = self._tags[bisect.bisect_left(self._tag_cum, rng.random() * self._tag_cum[-1])]
        if tag == "o":
            return f"{self._other(rng)}/o"
        return f"{self.lexicon[tag][self._rank[tag](rng)]}/{tag}"

    def _n_segments(self, rng: random.Random) -> int:
        # 1 + geometric: mean SEGMENTS_PER_LINE, as in the reference corpus
        p = 1.0 / SEGMENTS_PER_LINE
        n = 1
        while rng.random() > p and n < 24:
            n += 1
        return n

    def _line(self, rng: random.Random) -> str:
        return " ".join(self._segment(rng) for _ in range(self._n_segments(rng)))

    def pool(self, n_lines: int) -> list[str]:
        """``n_lines`` tagged lines; the last one is past 512 tokens."""
        rng = random.Random(f"perfbench-pool:{self.seed}:{n_lines}")
        lines = [self._line(rng) for _ in range(n_lines - 1)]
        long_line = " ".join(self._segment(rng) for _ in range(LONG_LINE_SEGMENTS))
        return lines + [long_line]

    def novel_lines(self, batch: int, n_lines: int) -> list[str]:
        """Lines that each carry at least one surface absent from the base
        lexicons: fresh surfaces plus near-variants of base surfaces (which
        can join, and rename, existing components)."""
        rng = random.Random(f"perfbench-novel:{self.seed}:{batch}")
        taken = {s for lex in self.lexicon.values() for s in lex}
        fresh = {}
        for tag, lex in self.lexicon.items():
            k = max(4, n_lines // 2)
            variants = [self._variant(rng, lex[self._rank[tag](rng)]) for _ in range(k)]
            new = self._lexicon(rng, tag, k, taken)
            fresh[tag] = [s for s in variants if s not in taken] + new
        out = []
        for _ in range(n_lines):
            segs = [self._segment(rng) for _ in range(self._n_segments(rng))]
            tag = rng.choice(("ns", "nt", "nr"))
            novel = rng.choice(fresh[tag])
            segs.insert(rng.randrange(len(segs) + 1), f"{novel}/{tag}")
            out.append(" ".join(segs))
        return out

    def alphabet_line(self) -> str:
        """One tagged line holding every character the generator can emit,
        so a vocab built over ``pool + [alphabet_line()]`` covers every
        batch too."""
        chars = set(self._chars) | set("".join(_ENTITY_SUFFIX.values())) | {RENAME_PREFIX}
        chars |= set("abcdefghijklmnopqrstuvwxyz0123456789，")
        return " ".join(f"{c}/o" for c in sorted(chars))

    def rename_line(self, batch: int) -> str:
        """Variants ``RENAME_PREFIX * (batch + 1) + s`` of each tag's most
        frequent CJK surfaces: they link to ``s`` (or to the previous
        batch's variant) and sort before every other member, so the
        component's canonical label changes."""
        prefix = RENAME_PREFIX * (batch + 1)
        segs = []
        for tag, lex in self.lexicon.items():
            # CJK and >= 4 characters: shingle Jaccard with the variant >= 2/3
            top = [x for x in lex[: 8 * RENAME_TOP] if x[0] >= "\u4e00" and len(x) >= 4]
            segs += [f"{prefix}{x}/{tag}" for x in top[:RENAME_TOP]]
        return " ".join(segs)

    def batch_sentences(self, pool: list[str], batch: int) -> list[str]:
        """The pool with its first ``RENAME_LINES`` lines replaced by the
        renaming line and every ``1 / NOVEL_SHARE``-th line after them by a
        line carrying never-seen surfaces; the long last line is kept."""
        step = round(1 / NOVEL_SHARE)
        slots = list(range(step, len(pool) - 1, step))
        novel = self.novel_lines(batch, len(slots))
        out = list(pool)
        out[:RENAME_LINES] = [self.rename_line(batch)] * RENAME_LINES
        for i, line in zip(slots, novel):
            out[i] = line
        return out


def entity_surfaces(lines) -> set[str]:
    """Distinct entity surfaces (non-``o`` words) over ``lines``."""
    from kg.oracle import parse_segments

    return {w for line in lines for w, tag in parse_segments(line) if tag != "o"}
