"""The benchmark's workloads: which catalog queries each one drives.

Every workload runs ``plans.catalog.QUERIES`` entries over the read-only
seed-42 fixture tables. After the cold pass, a run makes
``warmup_passes`` warm passes that no metric uses (the first warm passes
still run slower than later ones), then measured passes: at least
``min_passes`` whatever ``--seconds`` says, so the tail percentile below
has a fixed sample count to stand on.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # The paper's own questions (q1-q7 batch plus a q2 streaming twin).
    # Fixed per-query cost dominates: driver build, a handful of tiny
    # Spark jobs per noop write, and one availableNow memory-sink drive.
    "reference_questions": {
        "queries": [
            "q1_top_emojis",
            "q1_top_words",
            "q1_kernel_equiv",
            "q3_ratio_synth",
            "q4_tweets_end_to_end",
            "q4_words_by_source",
            "q5_tweets_categories",
            "q6_tweets_geo",
            "q7_events_early",
            "q2_tweets_stream_top_emojis",
        ],
        # The driver-side code of ten distinct plans keeps speeding up
        # for about three warm passes; one warm-up pass left the measured
        # passes still on that curve.
        "warmup_passes": 2,
        "min_passes": 3,
    },
    # The write path: a banded IVF store landed per micro-batch, with roll
    # and consolidate on a background thread, then probed.
    "stream_stores": {
        "queries": ["stream_knn_ivf"],
        "warmup_passes": 1,
        "min_passes": 2,
    },
}

# Store drives and the fixture table each one replays as ordered files;
# write and space amplification are taken against that staged replay.
REPLAY_TABLE = {"stream_knn_ivf": "embeddings"}


def tail_percentile(n_samples: int) -> float:
    """Highest percentile with at least ten samples beyond it; 100 (the
    maximum) when that would not lie above the median (20 samples or
    fewer)."""
    if n_samples <= 20:
        return 100.0
    return 100.0 * (1.0 - 10.0 / n_samples)
