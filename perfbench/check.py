"""Output checks.  Each returns the set of doc ids that fail, so the
benchmark can report documents failed against documents checked.

The checks work on plain Python values collected from the job's output;
they import no Spark, so the benchmark's tests can feed them corrupted
outputs directly.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable, Mapping, Sequence
from typing import Any

from cloud_ocr_summarizer_spark import oracle

SPLITS = frozenset({"train", "val", "test"})


def exactly_once(input_ids: Iterable[Any], output_ids: Iterable[Any]) -> set:
    """Ids missing from the output, written more than once, or not in the
    input."""
    want = set(input_ids)
    seen = Counter(output_ids)
    dup = {i for i, n in seen.items() if n > 1}
    return (want - seen.keys()) | dup | (seen.keys() - want)


def unique_subset(input_ids: Iterable[Any], output_ids: Iterable[Any]) -> set:
    """Ids written more than once or not in the input (a filtering job may
    drop docs, so none count as missing)."""
    want = set(input_ids)
    seen = Counter(output_ids)
    return {i for i, n in seen.items() if n > 1 or i not in want}


def flagship(
    input_ids: Sequence[str],
    output_ids: Sequence[str],
    sample_in: Mapping[str, list[dict]],
    sample_out: Mapping[str, list[dict]],
) -> set:
    """The committed union holds every input doc exactly once, and each
    sampled doc's spans equal the Python oracle's.  The flagship job runs
    with min_confidence=0.0, so the oracle does too (its default differs)."""
    failed = exactly_once(input_ids, output_ids)
    for doc_id, spans in sample_in.items():
        want = oracle.extract_document(spans, min_confidence=0.0)
        got = sample_out.get(doc_id)
        if got is None or [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got
        ] != want:
            failed.add(doc_id)
    return failed


def _same(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and round(a, 6) == round(b, 6)
    return a == b


def web_oracle_row(rec: dict[str, Any]) -> dict[str, Any]:
    """The DuckDB oracle's row, with the program's contract for a document
    without words: DuckDB's array_to_string of an empty list is NULL, while
    the program writes main_text "" (pinned by
    tests/test_extract_web.py::test_empty_document_survives_both_variants)."""
    if rec.get("n_tokens") == 0 and rec.get("main_text") is None:
        return {**rec, "main_text": ""}
    return rec


def rows_match(
    input_ids: Sequence[Any],
    output_ids: Sequence[Any],
    expected: Mapping[Any, Mapping[str, Any]],
    actual: Mapping[Any, Mapping[str, Any]],
) -> set:
    """Exactly-once output, and every expected (oracle) row equals the
    output row of the same doc on every oracle column."""
    failed = exactly_once(input_ids, output_ids)
    for doc_id, want in expected.items():
        got = actual.get(doc_id)
        if got is None or not all(_same(v, got.get(k)) for k, v in want.items()):
            failed.add(doc_id)
    return failed


def curate(
    input_ids: Sequence[int],
    output_ids: Sequence[int],
    splits: Sequence[str],
    counts_per_rep: Sequence[Mapping[str, int]],
) -> tuple[set, int]:
    """Output ids unique and a subset of the input, split values known,
    and per-split row counts identical on every repetition of one input.

    Returns the failing ids and the number of docs by which the per-split
    counts of the repetitions disagree (those docs have no id)."""
    failed = unique_subset(input_ids, output_ids)
    failed |= {i for i, s in zip(output_ids, splits) if s not in SPLITS}
    drift = 0
    for counts in counts_per_rep[1:]:
        keys = counts.keys() | counts_per_rep[0].keys()
        drift = max(
            drift,
            sum(abs(counts.get(k, 0) - counts_per_rep[0].get(k, 0)) for k in keys),
        )
    return failed, drift
