"""Input sizing from the seed, and the correctness checks every pass
must pass (run outside the timed region)."""

from __future__ import annotations

from collections import Counter

# Ids of mirror captures start here (the crawl fixture's mirror host id
# space); base pages must stay below it.
MIRROR_BASE = 10**9
OFFSET_STEP = 10**7
# seed → offset slot; 99 slots of 10^7 ids keep every base id < 10^9.
OFFSET_SLOTS = MIRROR_BASE // OFFSET_STEP - 1


def doc_offset(seed: int) -> int:
    """First doc_id of a workload's input. The seed only shifts the id
    range, which changes every page's rendered text (the fixtures are
    doc_id arithmetic) but keeps the input shares fixed."""
    return (seed % OFFSET_SLOTS) * OFFSET_STEP


def doc_range(seed: int, n_pages: int) -> range:
    if not 0 < n_pages <= OFFSET_STEP:
        raise ValueError(f"n_pages must be in (0, {OFFSET_STEP}], got {n_pages}")
    lo = doc_offset(seed)
    return range(lo, lo + n_pages)


class CheckFailed(Exception):
    """A pass produced a wrong graph; the message names the check."""


def check_triples(got: list[tuple], gold: Counter) -> None:
    """The committed (doc_id, sent_idx, subj, pred, obj) multiset must
    equal the gold multiset: no row lost, none duplicated, none extra."""
    have = Counter(got)
    if have == gold:
        return
    missing = gold - have
    extra = have - gold
    raise CheckFailed(
        f"gold_triples: {sum(missing.values())} missing, "
        f"{sum(extra.values())} extra (e.g. missing {next(iter(missing), None)}, "
        f"extra {next(iter(extra), None)})"
    )


def check_chunks(ran: list[int], expected: list[int], lineage: list[int], n_chunks: int) -> None:
    """A resume must run exactly the pending chunks, and the lineage must
    then hold one row per chunk."""
    if sorted(ran) != sorted(expected):
        raise CheckFailed(f"resume_chunks: ran {sorted(ran)}, expected {sorted(expected)}")
    if sorted(lineage) != list(range(n_chunks)):
        raise CheckFailed(
            f"lineage_rows: {len(lineage)} rows for chunks {sorted(set(lineage))}, "
            f"expected one per chunk 0..{n_chunks - 1}"
        )
