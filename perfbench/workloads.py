"""The benchmark's workloads: which ops each one runs and in what order.

A workload is a fixed multiset of ops. One pass runs every op of the
multiset once, in an order drawn from ``--seed``; a run makes a fixed
number of passes (see ``run.passes``). So every run of a workload does
the same work whatever its seed, and the seed decides only the order and
the hours the ingest batches pick. The program sees only the generated
inputs.

Op kinds:

- ``("query", name)``: one registry query, built with ``spec.spark`` and
  collected.
- ``("hour", h)``: one closed-hour batch of ``pipeline.hourly_pipeline``
  merged into the run's standing fact table, then ``pipeline.validate``.
  ``h`` is the hour's offset from the start of the events table.
- ``("replay", h)``: the same for an hour already ingested earlier in the
  run, replayed out of order to exercise the idempotent upsert.

Why these workloads: ``ingest_writes`` exercises the writer layers
(``pipeline``, ``operators.merge``, ``operators.evolution``, bloom
pruning in ``sources``) that ``corpus_curation`` never calls, and
``corpus_curation`` exercises the Python boundary, LSH band joins, ANN
broadcasts, ``session.materialize`` and a curation stream that the
hourly batches barely touch, so a change to either side has a workload
that should move and one that should stay flat.
"""

from __future__ import annotations

import random

# The registry op that writes beside the hour batches: a published
# table's partition spec evolved, merged into, and bloom-pruned on read.
INGEST_WRITER_OPS = ("bloom_evolved_carry_audit",)
HOURS_PER_PASS = 5
REPLAYS_PER_PASS = 2

# Corpus curation: MinHash LSH band joins, ANN broadcasts, the Python
# boundary (mapInPandas), materialize lineage cuts, and the IVF ingest
# curation stream; (query, runs per pass). The three short queries run
# twice a pass, so the run's median latency is a median of several
# samples rather than one sample of whichever query lands in the middle.
CORPUS_CURATION = (
    # llm_text
    ("near_dup_minhash_lsh", 1),
    # embeddings
    ("embedding_ann_ivf", 2),
    ("embedding_topk_bruteforce", 2),
    # multimodal
    ("near_dup_video_frames", 2),
    # curation stream
    ("streaming_ivf_ingest", 1),
)

# The op lists are short because a run, with its JVM start, untimed warm
# pass, timed pass and output checks, must stay near a minute on a 4-core
# host: a comparison makes dozens of runs per workload. The same budget
# left out a read-only workload, the other writer-tier ops and streaming
# drains, and the heavier curation streams (``streaming_near_dup_ingest``
# and ``streaming_curation_ledger`` take 15-30 s each on first run).
WORKLOADS = ("ingest_writes", "corpus_curation")

# Hours the events table spans (30 days from 2024-01-01).
EVENT_HOURS = 30 * 24


def _pass_kinds(workload: str) -> list:
    if workload == "corpus_curation":
        return [("query", n) for n, runs in CORPUS_CURATION for _ in range(runs)]
    if workload == "ingest_writes":
        return (
            [("query", n) for n in INGEST_WRITER_OPS]
            + [("hour", None)] * HOURS_PER_PASS
            + [("replay", None)] * REPLAYS_PER_PASS
        )
    raise ValueError(f"unknown workload {workload!r}")


def sequence(workload: str, seed: int, passes: int) -> list[tuple]:
    """The op sequence of one run: ``passes`` seeded shuffles of the
    workload's multiset. Ingest hours are consecutive from a seeded start
    hour; each replay re-ingests an hour from earlier in the run."""
    rng = random.Random(f"{workload}:{seed}")
    next_hour = rng.randrange(1, EVENT_HOURS // 2)
    ingested: list[int] = []
    out: list[tuple] = []
    for _ in range(passes):
        kinds = _pass_kinds(workload)
        rng.shuffle(kinds)
        if not ingested:
            # A replay needs an hour before it: swap the run's first
            # replay behind its first hour batch.
            slots = [i for i, k in enumerate(kinds) if k[0] != "query"]
            if slots and kinds[slots[0]][0] == "replay":
                first_hour = next(i for i in slots if kinds[i][0] == "hour")
                kinds[slots[0]], kinds[first_hour] = kinds[first_hour], kinds[slots[0]]
        for kind, name in kinds:
            if kind == "query":
                out.append(("query", name))
            elif kind == "replay":
                # Out of order: an hour before the latest, when there is one.
                out.append(("replay", rng.choice(ingested[:-1] or ingested)))
            else:
                out.append(("hour", next_hour))
                ingested.append(next_hour)
                next_hour += 1
    return out


# Queries whose second run is still well above their steady latency
# (the LSH band join's second run took about 1.5x its third): the warm
# pass runs them once more at its end.
WARM_TWICE = ("near_dup_minhash_lsh",)


def warm_sequence(workload: str) -> list[tuple]:
    """The untimed warm pass: every distinct op of the workload once, hour
    batches first (the process's first op pays most of the JVM's warm-up,
    and a batch is the cheapest op to pay it on), then the queries in
    declared order, then ``WARM_TWICE`` again. Its batch and replay ingest
    the last closed hour of the events table, which no timed batch picks."""
    kinds = _pass_kinds(workload)
    queries = [name for kind, name in distinct(kinds) if kind == "query"]
    again = [name for name in WARM_TWICE if name in queries]
    ops = [("query", name) for name in queries + again]
    if any(kind != "query" for kind, _ in kinds):
        ops = [("hour", EVENT_HOURS - 1), ("replay", EVENT_HOURS - 1)] + ops
    return ops


def distinct(ops: list[tuple]) -> list[tuple]:
    """The first op of each kind (query name, ``hour`` or ``replay``)."""
    out, seen = [], set()
    for op in ops:
        key = (op[0], op[1] if op[0] == "query" else None)
        if key not in seen:
            seen.add(key)
            out.append(op)
    return out


def op_label(op: tuple) -> str:
    kind, arg = op
    return arg if kind == "query" else kind
