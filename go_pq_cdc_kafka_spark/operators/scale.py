"""One scale policy for the corpus-scaled dedup operators.

``minhash_lsh_pairs``, ``minhash_incremental_pairs``, ``ngram_jaccard_pairs``,
``ngram_containment_pairs`` and ``cosine_dedup_pairs`` take the corpus row
count (``rows``, counted by the caller on the bare scan, a footer-only
metadata job) and read every strategy choice from :func:`regime`. No
other module compares a row count against the two boundaries below
(tests/test_scale_posture.py enforces it); the measurements that set them
sit next to them. SCALE.md "Scale regimes" tabulates what each operator
does in each regime.
"""

from __future__ import annotations

from typing import NamedTuple

#: SMALL ends here (inclusive). Three switches share it, each measured on
#: its own side:
#:
#: - pins (shingle index, signatures, candidates): below it the
#:   materialization barriers cost more than the recompute they avoid
#:   (round-12 A/B at 5k docs, bit-identical: dedup_minhash_lsh 1.88 →
#:   1.23 s, dedup_ngram_jaccard 1.73 → 1.23 s, dedup_containment_pairs
#:   1.69 → 1.09 s);
#: - the candidate-doc semi filter before the verify joins: a 4x win at
#:   500k docs (round-9 sf10: 94 s → 24 s) but a 0.4 s cost at 5k docs
#:   (round-12 sf0.1: 2.36 → 1.95 s without it), so the switch sits well
#:   below the measured-win scale;
#: - band-local MinHash verify (round 13): 2.1x faster at <= 50k docs
#:   (7.4 → 3.4 s at 50k; `dedup_minhash_lsh` 2.43 → 1.48 s, incremental
#:   3.4 → 2.1 s warm) and 1.5-2x slower at 500k (40-50 s → 60-109 s) —
#:   the band exchange carries 4x the corpus shingle mass, so past here
#:   the join chain wins. Nothing is measured between 50k and 500k.
SMALL_MAX_ROWS = 100_000

#: MID ends here (inclusive). Two switches share it:
#:
#: - pair joins go sort-merge: the sf100 sweep (5M docs) caught the
#:   hinted shuffle-hash verify joins dying ("not enough memory to build
#:   hash map") — AQE coalesces the under-estimated candidate shuffle and
#:   one task then builds the whole slice; the embedding-cosine self-join
#:   hit the same >1 GB single-task build in the round-10 shape. Merge
#:   spills gracefully and costs nothing measurable where shuffle-hash
#:   also works;
#: - pins are materialized eagerly: a merge or hash join submits both
#:   input stages at once, and against a lazily persisted cache BOTH
#:   compute the subtree before any block lands (round-11 sf100 event
#:   log: twin ~80 s stages). Below here the barriers cost more than the
#:   duplicated cheap subtrees (round-12 A/B at sf0.1: 2.0 s lazy vs
#:   2.3 s eager), and lazy construction keeps EXPLAIN side-effect-free.
MID_MAX_ROWS = 1_000_000


class Regime(NamedTuple):
    name: str
    #: pin the corpus-scaled shared subtrees; for MinHash also: verify
    #: through the semi-filtered join chain instead of band-locally
    pin: bool
    #: hint on the corpus-scaled pair joins: "shuffle_hash" or "merge"
    pair_join: str
    #: materialize pins at construction (a Spark job per pin)
    eager: bool


SMALL = Regime("small", pin=False, pair_join="shuffle_hash", eager=False)
MID = Regime("mid", pin=True, pair_join="shuffle_hash", eager=False)
LARGE = Regime("large", pin=True, pair_join="merge", eager=True)


def regime(rows: int) -> Regime:
    """The regime for a corpus of ``rows`` rows (see the module table)."""
    if rows > MID_MAX_ROWS:
        return LARGE
    if rows > SMALL_MAX_ROWS:
        return MID
    return SMALL
