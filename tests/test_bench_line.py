"""Pins for the driver-facing bench output and the correctness-gate
rotation — both are PROCESS contracts the round driver enforces silently:

* the driver records only a 2,000-char tail of bench.py's output, and an
  overgrown primary JSON line parses as null (round 3 lost its whole bench
  artifact this way);
* the driver's CORRECTNESS artifact persists only the FIRST 50 keys of
  queries(), so a query appended past slot 50 never gets an official green
  row (round 4's flagship gap).

No Spark session needed — bench.primary_line is pure.
"""

from __future__ import annotations

import json

import bench
from deduplicator_spark.entry_queries import QUERIES, complete_oracles

PIPELINE = {"images": 10000, "sec": 6.7, "images_per_sec": 1492.5}


def _line(n: int) -> str:
    # worst-case realistic widths: long names, 4-digit-second timings
    timings = {f"query_name_padded_to_width_{i:03d}": 1000.0 + i
               for i in range(n)}
    return bench.primary_line(timings, n, n, round(sum(timings.values()), 3),
                              0.1, PIPELINE, 32, 2)


def test_line_fits_at_current_query_count():
    line = _line(len(QUERIES) + 1)  # +1: the pipeline timing row
    assert len(line) <= 1900
    assert json.loads(line)["value"] > 0


def test_line_fits_far_past_current_count():
    # query #90 broke round 3; make sure #300 cannot break round 6
    for n in (90, 150, 300):
        line = _line(n)
        assert len(line) <= 1900, (n, len(line))
        parsed = json.loads(line)
        # the aggregate keeps the total auditable even when names drop
        shown = sum(parsed["queries"].values())
        agg = parsed.get("aggregated_total", 0)
        assert abs(shown + agg - parsed["value"]) < 1

def test_shrink_loop_terminates_on_indivisible_counts():
    # ADVICE r4: keep stepped 4 -> -1 when len % 5 != 0 and the negative
    # slice RE-GREW the line; now it clamps at 0 (empty dict worst case)
    for n in (1, 2, 3, 4, 6, 7, 13):
        line = bench.primary_line(
            {f"q{i}" * 200: 1.0 for i in range(n)}, n, n, float(n),
            0.1, PIPELINE, 32, 2, cap=100)
        parsed = json.loads(line)  # still valid JSON, possibly 0 timings
        assert parsed["queries"] == {}


def test_never_driver_gated_queries_hold_gate_slots():
    """Round-5 rotation (VERDICT r4 item #1): the registered queries that
    had never been gated in rounds 1-4 must sit inside the first 50 keys,
    and every key must still carry an oracle."""
    keys = list(QUERIES)
    first50 = set(keys[:50])
    never_gated_before_r5 = {
        "image_dedup_verdicts", "near_audio_pairs", "near_video_pairs",
        "cluster_retract_repair", "cluster_cohesion", "tier_overlap",
        "pipeline_metrics", "ann_index_probe", "ann_index_increments",
        "image_index_increments", "shingle_df_histogram",
    }
    assert never_gated_before_r5 <= first50
    assert set(keys) <= set(complete_oracles())
