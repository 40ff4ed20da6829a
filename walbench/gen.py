"""Seeded input generators. Every input of every workload comes from
here, together with the ground truth the checks compare against; the
program's answers never feed back into the expected values.

Payload format of log and wire entries (ASCII):
    "<seq>|<topic index>|<event time ms>|" + padding
``seq`` is unique per run, so a payload identifies its entry.
"""

from __future__ import annotations

import hashlib
import itertools
import random
from dataclasses import dataclass

# --- log_stream ---------------------------------------------------------
N_TOPICS = 8
ZIPF_S = 1.1
PAD_SIZES = (24, 100, 400, 1500)
PAD_WEIGHTS = (0.4, 0.3, 0.2, 0.1)
WINDOW_MS = 5_000
WATERMARK_MS = 10_000
# Event time of backlog chunk c spans [c*CHUNK_SPAN_MS, (c+1)*CHUNK_SPAN_MS)
# after the base; CHUNK_SPAN_MS < WATERMARK_MS keeps every backlog entry
# above the watermark under any split of the chunks into micro-batches.
CHUNK_SPAN_MS = 8_000
# Live entries carry base + schedule time + jitter, jitter < LIVE_JITTER_MS
# < WATERMARK_MS, so no live entry is late either.
LIVE_JITTER_MS = 2_000
# Planted late entries sit an hour before the backlog, one window each,
# so the stateful operator's pre-aggregation cannot merge two of them
# and each counts once in numRowsDroppedByWatermark.
LATE_BEFORE_MS = 3_600_000


def topic_name(i: int) -> str:
    return f"t{i}"


def payload(seq: int, topic: int, et_ms: int, pad: int) -> bytes:
    head = f"{seq}|{topic}|{et_ms}|"
    return (head + "x" * pad).encode("ascii")


def parse_payload(b: bytes) -> tuple[int, int, int]:
    seq, topic, et, _ = b.split(b"|", 3)
    return int(seq), int(topic), int(et)


@dataclass
class LogEntry:
    seq: int
    topic: int
    et_ms: int
    pad: int

    def value(self) -> bytes:
        return payload(self.seq, self.topic, self.et_ms, self.pad)


@dataclass
class LogInputs:
    base_ms: int
    chunks: list[list[LogEntry]]
    late: list[LogEntry]
    calls: list[list[LogEntry]]  # live schedule: one multi_append per item
    period_s: float
    late_at_call: int  # earliest call index after which late entries may go

    def backlog(self) -> list[LogEntry]:
        return [e for c in self.chunks for e in c]

    def expected_counts(self) -> dict:
        """Ground-truth windowed counts {(window start ms, topic): n} over
        every entry that is not planted late."""
        out: dict = {}
        for e in self.backlog() + [e for c in self.calls for e in c]:
            k = (e.et_ms - e.et_ms % WINDOW_MS, topic_name(e.topic))
            out[k] = out.get(k, 0) + 1
        return out


def _zipf_weights(n: int) -> list[float]:
    return [1.0 / (i + 1) ** ZIPF_S for i in range(n)]


def log_inputs(
    seed: int,
    chunk_rows: int,
    n_chunks: int,
    seconds: float,
    rate_hz: float,
    entries_per_call: int,
    n_late: int,
) -> LogInputs:
    rng = random.Random(f"log:{seed}")
    # cumulative weights once: the same draws as weights=, without
    # re-summing them for every entry
    topic_cw = list(itertools.accumulate(_zipf_weights(N_TOPICS)))
    pad_cw = list(itertools.accumulate(PAD_WEIGHTS))
    base = 1_700_000_000_000 + rng.randrange(10_000) * WINDOW_MS
    seq = 0

    def entry(et: int) -> LogEntry:
        nonlocal seq
        seq += 1
        t = rng.choices(range(N_TOPICS), cum_weights=topic_cw)[0]
        pad = rng.choices(PAD_SIZES, cum_weights=pad_cw)[0]
        return LogEntry(seq, t, et, pad)

    chunks = [
        [entry(base + c * CHUNK_SPAN_MS + rng.randrange(CHUNK_SPAN_MS)) for _ in range(chunk_rows)]
        for c in range(n_chunks)
    ]
    period = 1.0 / rate_hz
    n_calls = max(1, int(seconds * rate_hz))
    live0 = base + n_chunks * CHUNK_SPAN_MS
    calls = [
        [
            entry(live0 + int(k * period * 1000) + rng.randrange(LIVE_JITTER_MS))
            for _ in range(entries_per_call)
        ]
        for k in range(n_calls)
    ]
    late = [entry(base - LATE_BEFORE_MS - i * WINDOW_MS) for i in range(n_late)]
    return LogInputs(base, chunks, late, calls, period, late_at_call=n_calls // 5)


# --- curation_lane ------------------------------------------------------
VOCAB = 20_000
EVAL_DOCS = 40
N_SHARDS = 8
SHARD_SEED = 42
VAL_PCT = 5
_SPLIT_MULT = 2654435761  # the documented Knuth multiplicative hash
_SPLIT_MOD = 1 << 32


def split_of(doc_id: int) -> str:
    """train_val_split's documented rule."""
    return "val" if (doc_id * _SPLIT_MULT) % _SPLIT_MOD % 100 < VAL_PCT else "train"


def shard_key(doc_id: int, seed: int = SHARD_SEED) -> str:
    """shuffle_shards' documented key: md5("<seed>:<id>")."""
    return hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()


def shard_of(doc_id: int, n_shards: int = N_SHARDS) -> int:
    return int(shard_key(doc_id)[:8], 16) % n_shards


def shingle_set(text: str) -> set:
    ws = text.lower().split()
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


@dataclass
class LaneInputs:
    docs: list[tuple[int, str]]
    eval_docs: list[tuple[int, str]]
    kind: dict  # doc_id -> clean | exact_dup | near_dup | low_quality | contaminated
    survivors: set  # ground-truth doc ids after filter, dedup and decontamination
    near_dup_losers: set
    contaminated: set

    def expected_train(self) -> set:
        return {d for d in self.survivors if split_of(d) == "train"}


def _words(rng: random.Random, n: int) -> list[str]:
    return [f"w{rng.randrange(VOCAB)}" for _ in range(n)]


def _sentence_text(ws: list[str]) -> str:
    # one full stop per twelve words keeps punctuation far below the
    # 0.2 ratio corpus_filter allows
    out = []
    for i, w in enumerate(ws):
        out.append(w + ("." if i % 12 == 11 else ""))
    return " ".join(out)


def lane_inputs(seed: int, n_base: int) -> LaneInputs:
    """A corpus of ``n_base`` clean documents plus planted classes:
    exact duplicates (corpus_filter keeps the smallest id), near-dup
    clusters whose members are far above Jaccard 0.5 to their head
    (connected_components keeps the smallest id), low-quality documents
    (too short, punctuation-heavy, repetitive) and documents that copy
    most of an eval document (decontaminate flags them)."""
    rng = random.Random(f"lane:{seed}")
    texts: list[str] = []
    kind: list[str] = []
    cluster: list[int] = []  # near-dup cluster index or -1

    def add(text: str, k: str, c: int = -1) -> None:
        texts.append(text)
        kind.append(k)
        cluster.append(c)

    for _ in range(n_base):
        add(_sentence_text(_words(rng, rng.randrange(40, 120))), "clean")
    n_clusters = max(1, n_base // 25)
    for c in range(n_clusters):
        ws = _words(rng, rng.randrange(60, 120))
        add(_sentence_text(ws), "near_dup", c)
        for _ in range(rng.randrange(1, 4)):
            v = list(ws)
            # change ~3% of words: each change breaks at most 3 shingles
            for _ in range(max(1, len(v) // 33)):
                v[rng.randrange(len(v))] = f"w{rng.randrange(VOCAB)}"
            add(_sentence_text(v), "near_dup", c)
    for _ in range(max(1, n_base // 20)):
        src = rng.randrange(n_base)
        add(texts[src], "exact_dup")
    for i in range(max(3, n_base // 30)):
        mode = i % 3
        if mode == 0:
            add(" ".join(_words(rng, rng.randrange(3, 9))), "low_quality")
        elif mode == 1:
            add(" ".join(w + ",;!" for w in _words(rng, 30)), "low_quality")
        else:
            add(" ".join(_words(rng, 5) * 8), "low_quality")
    eval_docs = [(i + 1, _sentence_text(_words(rng, 80))) for i in range(EVAL_DOCS)]
    for i in range(min(EVAL_DOCS, max(1, n_base // 30))):
        ews = eval_docs[i][1].split()
        add(" ".join(ews[:70] + _words(rng, 10)), "contaminated")

    # shuffle ids so planted classes are spread over the id space
    order = list(range(len(texts)))
    rng.shuffle(order)
    ids = [1000 + 7 * p for p in order]
    docs = [(ids[i], texts[i]) for i in range(len(texts))]
    kinds = {ids[i]: kind[i] for i in range(len(texts))}

    # ground truth by construction
    by_text: dict[str, int] = {}
    for d, t in docs:
        key = t.lower()
        by_text[key] = min(by_text.get(key, d), d)
    canonical = {d for d, t in docs if by_text[t.lower()] == d}
    survivors = {d for d in canonical if kinds[d] != "low_quality"}
    clusters: dict[int, list[int]] = {}
    for i in range(len(texts)):
        if cluster[i] >= 0:
            clusters.setdefault(cluster[i], []).append(ids[i])
    losers = set()
    for members in clusters.values():
        keep = min(members)
        losers.update(m for m in members if m != keep)
    survivors -= losers
    contaminated = {d for d in survivors if kinds[d] == "contaminated"}
    survivors -= contaminated
    inputs = LaneInputs(docs, eval_docs, kinds, survivors, losers, contaminated)
    validate_lane(inputs, clusters)
    return inputs


def validate_lane(inp: LaneInputs, clusters: dict) -> None:
    """Check the generator's own construction against the documented
    rules in plain Python, so a planted class that failed to plant is a
    generator error rather than a false program failure."""
    for d, t in inp.docs:
        ws = t.lower().split()
        punct = sum(ch in ".,;:!?" for ch in t) / len(t)
        dup = 1 - len(set(ws)) / len(ws)
        bad = len(ws) < 10 or punct > 0.2 or dup > 0.3
        if bad != (inp.kind[d] == "low_quality"):
            raise AssertionError(f"generator: doc {d} ({inp.kind[d]}) quality signals {len(ws)}, {punct:.3f}, {dup:.3f}")
    sets = {d: shingle_set(t) for d, t in inp.docs}
    postings: dict[str, list[int]] = {}
    for d, s in sets.items():
        if inp.kind[d] in ("low_quality", "exact_dup"):
            continue
        for sh in s:
            postings.setdefault(sh, []).append(d)
    same_cluster = {}
    for c, members in clusters.items():
        for m in members:
            same_cluster[m] = c
        # members[0] is the cluster's original; every variant links to
        # it far above the threshold, so the cluster is one component
        for m in members[1:]:
            if jaccard(sets[m], sets[members[0]]) < 0.7:
                raise AssertionError(f"generator: near-dup {m} not well above 0.5")
    cands: dict[tuple[int, int], int] = {}
    for ds in postings.values():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                a, b = sorted((ds[i], ds[j]))
                cands[(a, b)] = cands.get((a, b), 0) + 1
    for (a, b), inter in cands.items():
        if a in same_cluster and same_cluster.get(b) == same_cluster[a]:
            continue
        jac = inter / (len(sets[a]) + len(sets[b]) - inter)
        if jac >= 0.5:
            raise AssertionError(f"generator: unplanted near-dup pair {a},{b} J={jac:.3f}")
        if 0.4 <= jac < 0.5:
            raise AssertionError(f"generator: pair {a},{b} too close to the threshold J={jac:.3f}")
    ev = set().union(*(shingle_set(t) for _, t in inp.eval_docs))
    for d in sets:
        if inp.kind[d] in ("low_quality",):
            continue
        frac = len(sets[d] & ev) / len(sets[d])
        if (frac >= 0.5) != (inp.kind[d] == "contaminated"):
            raise AssertionError(f"generator: doc {d} eval overlap {frac:.3f}")
        if 0.4 <= frac < 0.6 and inp.kind[d] != "contaminated":
            raise AssertionError(f"generator: doc {d} overlap too close to 0.5")


# --- the wire phase of log_stream ---------------------------------------
WIRE_TOPIC = "wire"


def wire_payload(seq: int, pad: int) -> str:
    return f"{seq}|0|0|" + "y" * pad


def wire_backlog(seed: int, n: int) -> list[bytes]:
    rng = random.Random(f"wire:{seed}")
    return [wire_payload(i + 1, rng.choice((16, 64, 256))).encode() for i in range(n)]


def wire_put_payloads(seed: int, conn: int, first_seq: int):
    """Endless deterministic PUT payloads for one connection; seqs are
    disjoint across connections (conn-th residue class above first_seq)."""
    rng = random.Random(f"wire-put:{seed}:{conn}")
    k = 0
    while True:
        yield wire_payload(first_seq + 2 * k + conn, rng.choice((16, 64, 256)))
        k += 1
