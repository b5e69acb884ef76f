"""Seeded input generator for the three benchmark workloads.

Everything the engine reads is written here, in the fixture schemas
(FIXTURES.md), from one process and one ``numpy`` generator per call, so
the same seed gives byte-identical parquet files. The traffic properties
each workload depends on are fixed in the module constants below.

The generator also returns what the correctness checks need without
asking the engine: for ``ga_sync`` the hit ids every tick should append.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
US_PER_MIN = 60_000_000
US_PER_HOUR = 60 * US_PER_MIN
US_PER_DAY = 24 * US_PER_HOUR
EPOCH_US = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000

# Where a constant is measured from the fixtures FIXTURES.md describes
# (seed 42; the measurement is in README.md), it says so. The rest are
# chosen stress values: properties the workload must have that the
# fixtures lack, such as user skew, sessions, late hits and duplicates.

# -- hit-log traffic (hit_reports and the ga_sync stream) -----------------
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")  # fixture: uniform mix
VALUE_LOGNORMAL = (3.34, 1.27)  # fixture fit of log(value); values are whole cents
PROP_KEYS = 100  # fixture: props k uniform over 0..99
USER_ZIPF_S = 1.2  # chosen stress: weight of rank r is r^-s (fixture: near uniform)
SESSION_GAP_MEAN_MIN = 3.0  # chosen stress: in-session gap, exponential, capped below
SESSION_GAP_CAP_MIN = 29.0  # strictly under the engine's 30-minute rule
SESSION_LEN_MEAN = 6.0  # chosen stress: hits per session, geometric
REPORT_DAYS = 30  # fixture: 2024-01-01 to 2024-01-30

# -- ga_sync stream -------------------------------------------------------
TICK_MINUTES = 60  # each cron tick extracts one hour of new hits
TICK_HITS = 1_390  # one hour at the sf1 rate: sf0.1 holds 139 hits an hour, sf1 10x
SYNC_USERS = 15_000  # sf1's user count: sf0.1 has 1 500, 10x per scale step
SYNC_OVERLAP_US = US_PER_HOUR  # SyncPipeline.sync's default reextract_overlap
REEXTRACT_US = SYNC_OVERLAP_US  # the extract starts at the high-water mark minus the overlap
LATE_SHARE = 0.04  # chosen stress: share of a tick's hits that arrive late
LATE_MAX_US = 48 * US_PER_HOUR  # SURVEY.md: GA hits trickle in up to 24-48 h late
WARM_TICKS = 2  # small extracts the set-up syncs before the timed ticks

# -- corpus ----------------------------------------------------------------
VOCAB = tuple(  # fixture: the 31 words every document is drawn from
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = ("en", "de", "fr", "es", "zh")
LANG_MIX = (0.41, 0.14, 0.15, 0.15, 0.15)  # fixture shares
N_SOURCES = 20  # fixture: src0..src19
DOC_WORDS = (10, 100)  # fixture: uniform word count per document
EXACT_DUP_SHARE = 0.05  # chosen stress: documents that repeat another's text
NEAR_DUP_SHARE = 0.10  # chosen stress: copies with 1-3 words changed
PII_SHARE = 0.10  # chosen stress: documents carrying an email address or a phone number
EMBED_DIM = 64  # fixture
EMBED_CLUSTERS = 10  # fixture label count; chosen stress: members share a centroid
EMBED_NOISE = 1.0  # member spread around the centroid (cosine ~0.5 apart)
EMBED_DUP_NOISE = 0.01  # a near-duplicate's embedding: its source plus this


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts another one's draws."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def write_table(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    # fixed writer options: the file bytes depend on the rows alone
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def hit_key(user_id: int, ts_us: int) -> str:
    """The hit id ``etl.EXAMPLE_CONFIG`` derives, computed independently:
    sha2(concat_ws('|', client_id, unix_micros(hit_ts)), 256)."""
    return hashlib.sha256(f"{user_id}|{ts_us}".encode()).hexdigest()


def events_table(event_id, ts_us, user_id, etype, value, prop_k) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            # TIMESTAMP(NANOS), as the fixtures are (FIXTURES.md)
            "ts": pa.array(np.asarray(ts_us, np.int64) * 1000, pa.int64()).cast(pa.timestamp("ns")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in prop_k], pa.string()),
        }
    )


def _user_weights(n_users: int) -> np.ndarray:
    w = np.arange(1, n_users + 1, dtype=np.float64) ** -USER_ZIPF_S
    return w / w.sum()


def _hits(rng: np.random.Generator, n: int, n_users: int, t0_us: int, span_us: int):
    """``n`` hits over [t0, t0 + span): Zipf-skewed users, each user's
    hits grouped into sessions of exponential in-session gaps. Returns
    sorted-by-time columns with unique (user, ts)."""
    users = rng.choice(n_users, size=n, p=_user_weights(n_users))
    session_pos = rng.geometric(1.0 / SESSION_LEN_MEAN, size=n)
    gaps = np.minimum(
        rng.exponential(SESSION_GAP_MEAN_MIN * US_PER_MIN, size=n),
        SESSION_GAP_CAP_MIN * US_PER_MIN,
    ).astype(np.int64)
    starts = t0_us + rng.integers(0, span_us, size=n)
    # a hit lands after its session start by its position's cumulative gap
    ts = starts + gaps * session_pos
    ts = np.minimum(ts, t0_us + span_us - 1)
    # unique (user, ts): the derived hit id must identify one hit
    order = np.lexsort((ts, users))
    users, ts = users[order], ts[order]
    dup = np.concatenate(([False], (users[1:] == users[:-1]) & (ts[1:] <= ts[:-1])))
    while dup.any():
        ts = np.where(dup, np.concatenate(([0], ts[:-1])) + 1, ts)
        dup = np.concatenate(([False], (users[1:] == users[:-1]) & (ts[1:] <= ts[:-1])))
    order = np.lexsort((users, ts))
    users, ts = users[order] + 1, ts[order]
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    value = np.round(rng.lognormal(*VALUE_LOGNORMAL, size=n), 2)
    prop_k = rng.integers(0, PROP_KEYS, size=n)
    return users, ts, etype, value, prop_k


def write_hit_log(root: Path, seed: int, n_events: int, n_users: int) -> Path:
    """One hit log of ``n_events`` over REPORT_DAYS days as
    ``root/events.parquet``; returns ``root``."""
    rng = _rng(seed, f"hits:{n_events}")
    users, ts, etype, value, prop_k = _hits(rng, n_events, n_users, EPOCH_US, REPORT_DAYS * US_PER_DAY)
    ids = np.arange(n_events, dtype=np.int64)
    write_table(events_table(ids, ts, users, etype, value, prop_k), root / "events.parquet")
    return root


# ---------------------------------------------------------------------------
# ga_sync: one extract per cron tick
# ---------------------------------------------------------------------------


class SyncStream:
    """Tick extracts for the sync workload, written one at a time, and the
    keys each sync should add.

    Extracts 0 and 1 are small (the set-up warm-up: the initial load that
    creates the target, then one increment through the bucketed anti-join
    append); later ones are full ticks. ``expected[i]`` is the set of hit
    ids sync i must append under the reference's semantics: rows older
    than the target's high-water mark minus the 1-hour overlap are
    dropped, rows already in the target are skipped.
    """

    def __init__(self, root: Path, seed: int, n_users: int = SYNC_USERS, warm_hits: int = 500) -> None:
        self.root = root
        self.n_users = n_users
        self.warm_hits = warm_hits
        self.dirs: list[Path] = []
        self.rows: list[int] = []
        self.expected: list[frozenset[str]] = []
        self._rng = _rng(seed, "sync")
        self._loaded: set[str] = set()
        self._hwm: int | None = None
        self._prev: list | None = None  # previous extract's new rows, for re-extract
        self._next_id = 0

    def _ids(self, n: int) -> np.ndarray:
        ids = np.arange(self._next_id, self._next_id + n, dtype=np.int64)
        self._next_id += n
        return ids

    def write_next(self) -> int:
        """Write the next extract; returns its index."""
        i, rng = len(self.dirs), self._rng
        n = self.warm_hits if i < WARM_TICKS else TICK_HITS
        t0 = EPOCH_US + i * TICK_MINUTES * US_PER_MIN
        u, ts, et, val, pk = _hits(rng, n, self.n_users, t0, TICK_MINUTES * US_PER_MIN)
        new = [self._ids(n), ts, u, et, val, pk]
        cols = new
        if self._prev is not None:
            # late hits: event time up to LATE_MAX before this tick,
            # arriving now; the few inside the sync overlap are kept
            n_late = int(n * LATE_SHARE)
            back = rng.integers(1, LATE_MAX_US, size=n_late)
            lu, _, let, lval, lpk = _hits(rng, n_late, self.n_users, t0, 1)
            late = [self._ids(n_late), t0 - back, lu, let, lval, lpk]
            # re-extract: the previous extract's rows inside the overlap
            keep = self._prev[1] >= t0 - REEXTRACT_US
            over = [c[keep] for c in self._prev]
            cols = [np.concatenate((a, b, c)) for a, b, c in zip(over, late, new)]
            # one hit per (user, ts) inside an extract: on a collision the
            # first row stays
            seen: set[tuple[int, int]] = set()
            mask = np.ones(len(cols[0]), dtype=bool)
            for j, key in enumerate(zip(cols[2].tolist(), cols[1].tolist())):
                mask[j] = key not in seen
                seen.add(key)
            cols = [c[mask] for c in cols]
        self._prev = new
        d = self.root / f"tick{i:04d}"
        write_table(events_table(*cols), d / "events.parquet")
        # expected appends, simulated from the sync contract alone
        ts_list = cols[1].tolist()
        keys = [hit_key(a, b) for a, b in zip(cols[2].tolist(), ts_list)]
        cutoff = None if self._hwm is None else self._hwm - SYNC_OVERLAP_US
        fresh = frozenset(
            k for k, t in zip(keys, ts_list)
            if (cutoff is None or t > cutoff) and k not in self._loaded
        )
        self._loaded |= fresh
        appended_ts = [t for k, t in zip(keys, ts_list) if k in fresh]
        self._hwm = max(appended_ts + ([] if self._hwm is None else [self._hwm]), default=None)
        self.dirs.append(d)
        self.rows.append(len(keys))
        self.expected.append(fresh)
        return i


# ---------------------------------------------------------------------------
# corpus_curation: documents + embeddings with planted duplicates
# ---------------------------------------------------------------------------


def write_corpus(root: Path, seed: int, n_docs: int) -> Path:
    """``documents`` and ``embeddings`` (joined on doc_id = vec_id) with
    exactly EXACT_DUP_SHARE exact and NEAR_DUP_SHARE near duplicates of
    earlier documents, PII in exactly PII_SHARE of the originals and
    cluster labels in equal shares, so the operators' work varies little
    with the seed; a duplicate's embedding is its source's plus small noise."""
    rng = _rng(seed, f"corpus:{n_docs}")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    source_of = np.full(n_docs, -1)
    n_exact, n_near = round(n_docs * EXACT_DUP_SHARE), round(n_docs * NEAR_DUP_SHARE)
    kind = np.zeros(n_docs, dtype=np.int64)
    # a copy needs earlier documents to copy: the first ten are originals
    copies = rng.choice(np.arange(10, n_docs), size=n_exact + n_near, replace=False)
    kind[copies[:n_exact]], kind[copies[n_exact:]] = 1, 2
    originals = np.flatnonzero(kind == 0)
    pii = set(rng.choice(originals, size=round(len(originals) * PII_SHARE), replace=False).tolist())
    for i in range(n_docs):
        if kind[i] == 0:
            n_words = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
            words = list(vocab[rng.integers(0, len(vocab), size=n_words)])
            if i in pii:
                pos = int(rng.integers(0, n_words))
                if rng.random() < 0.5:
                    words.insert(pos, f"u{int(rng.integers(0, 10_000))}@corp.example")
                else:
                    words.insert(pos, f"555-{int(rng.integers(0, 10_000)):04d}")
            texts.append(" ".join(words))
            continue
        src = int(rng.integers(0, i))
        while source_of[src] >= 0:  # copy an original, not a copy
            src = int(source_of[src])
        source_of[i] = src
        words = texts[src].split(" ")
        if kind[i] == 2:
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts.append(" ".join(words))

    lang = rng.choice(len(LANGS), size=n_docs, p=LANG_MIX)
    source = rng.integers(0, N_SOURCES, size=n_docs)
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{s}" for s in source], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    write_table(docs, root / "documents.parquet")

    centroids = rng.normal(0.0, 1.0, size=(EMBED_CLUSTERS, EMBED_DIM))
    label = rng.permutation(np.arange(n_docs) % EMBED_CLUSTERS)
    emb = centroids[label] + rng.normal(0.0, EMBED_NOISE, size=(n_docs, EMBED_DIM))
    dup = source_of >= 0
    label[dup] = label[source_of[dup]]
    emb[dup] = emb[source_of[dup]] + rng.normal(0.0, EMBED_DUP_NOISE, size=(int(dup.sum()), EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    write_table(embeddings, root / "embeddings.parquet")
    return root
