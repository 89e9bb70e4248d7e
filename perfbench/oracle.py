"""The per-turn oracle gate behind ``turn_error_frac``.

Expectations come from the frozen single-process specs
(``pyoracle.extract_turn``, ``pymatch.find_spans`` + ``dedup_spans``),
computed once per (workload, seed, size) outside the timed region and
cached as JSON next to the inputs. ``compare`` checks every turn's
``clean_text``, ``status``, ``passes``, ``quality`` (to 1e-9) and
``spans``; a turn that is missing, duplicated or different counts once.

One divergence is reported apart instead of failing the turn: at a
decimal rounding tie (an unrounded quality whose shortest repr ends in 5
at the third decimal, e.g. 98.025 stored as 98.0250000000000057),
``pyclean.estimate_quality``'s ``round`` sees the binary value and rounds
up, while Spark's ``bround`` rounds the decimal repr half-even. The turn
counts as a rounding tie when the program returns the half-even value.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from decimal import ROUND_HALF_EVEN, Decimal

from ocr_spark import datagen, pyclean, pymatch, pyoracle

QUALITY_TOL = 1e-9


def normalize_keywords(keywords: list[str]) -> list[str]:
    """The dim as the matchers see it: stripped, lowered, distinct."""
    return sorted({k.strip().lower() for k in keywords if k.strip()})


def expect_turns(texts: list[str | None], keywords: list[str]) -> list[list]:
    """[clean_text, status, passes, quality, spans, tie_quality] per
    payload; spans as [keyword, start, end] lists; ``tie_quality`` is the
    half-even rounding of the decimal repr where it differs from
    ``quality``, else None."""
    vocab = set(datagen.vocabulary())
    out = []
    for t in texts:
        r = pyoracle.extract_turn(t, vocab)
        spans = pymatch.dedup_spans(pymatch.find_spans(r.clean_text, keywords))
        tie = None
        if pyclean.validate_text(r.clean_text):
            raw = (pyclean.cer(r.clean_text) + pyclean.wer(r.clean_text, vocab)) / 2 * 100
            dec = float(Decimal(repr(raw)).quantize(Decimal("0.01"), ROUND_HALF_EVEN))
            tie = dec if dec != r.quality else None
        out.append(
            [r.clean_text, r.status, r.passes, r.quality, [list(s) for s in spans], tie]
        )
    return out


def expectations(
    cache_path: str, keys: list[tuple[str, int]], texts: list, keywords: list[str],
    workers: int = 4,
) -> dict[tuple[str, int], list]:
    """{(conv_id, turn_idx): expectation}, built by ``workers`` child
    processes (``python -m perfbench.oracle IN OUT``, files next to
    ``cache_path``), or read from ``cache_path`` when present."""
    if not os.path.exists(cache_path):
        kws = normalize_keywords(keywords)
        step = -(-len(texts) // workers)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {**os.environ, "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)}
        jobs = []
        for n, i in enumerate(range(0, len(texts), step)):
            src, dst = f"{cache_path}.in{n}", f"{cache_path}.out{n}"
            with open(src, "w") as f:
                json.dump({"texts": texts[i : i + step], "keywords": kws}, f)
            cmd = [sys.executable, "-m", "perfbench.oracle", src, dst]
            jobs.append((subprocess.Popen(cmd, env=env), src, dst))
        if any([proc.wait() for proc, _, _ in jobs]):
            raise RuntimeError(f"an oracle worker failed on {cache_path}")
        rows = []
        for _, src, dst in jobs:
            with open(dst) as f:
                rows += json.load(f)
            os.remove(src)
            os.remove(dst)
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rows, f)
        os.replace(tmp, cache_path)
    with open(cache_path) as f:
        return dict(zip(keys, json.load(f)))


def _spans(v) -> list[list]:
    return [[s["keyword"], int(s["start"]), int(s["end"])] for s in (v if v is not None else [])]


def compare(expected: dict[tuple[str, int], list], actual) -> tuple[int, int]:
    """(wrong turns, rounding-tie turns). Wrong: each expected turn that
    is missing, duplicated or differs, plus each row no turn expects.
    ``actual`` is a pandas frame with conv_id, turn_idx, clean_text,
    status, passes, quality and spans."""
    first_ok: dict[tuple[str, int], bool] = {}
    extra = ties = 0
    cols = ["conv_id", "turn_idx", "clean_text", "status", "passes", "quality", "spans"]
    for r in actual[cols].itertuples(index=False):
        key = (r.conv_id, int(r.turn_idx))
        e = expected.get(key)
        if e is None:
            extra += 1
            continue
        if key in first_ok:  # duplicated
            first_ok[key] = False
            continue
        q = float(r.quality)
        tie = abs(q - e[3]) > QUALITY_TOL and e[5] is not None and abs(q - e[5]) <= QUALITY_TOL
        first_ok[key] = (
            r.clean_text == e[0]
            and r.status == e[1]
            and int(r.passes) == e[2]
            and (abs(q - e[3]) <= QUALITY_TOL or tie)
            and _spans(r.spans) == e[4]
        )
        ties += tie and first_ok[key]
    wrong = extra + sum(1 for k in expected if not first_ok.get(k, False))
    return wrong, ties


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        job = json.load(f)
    with open(sys.argv[2], "w") as f:
        json.dump(expect_turns(job["texts"], job["keywords"]), f)
