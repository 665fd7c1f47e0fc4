"""Kinesis-shaped custom connector via Spark 4's Python Data Source API.

OSS Spark ships no Kinesis source (SURVEY.md §2 S1); the engine's source
registry abstracts that away, and THIS module closes the remaining gap
with an actual in-repo connector exposing Kinesis *semantics* — shards,
per-shard monotonically increasing sequence numbers, TRIM_HORIZON /
LATEST / AT_TIMESTAMP initial positions, and replayable
get-records-between-sequence ranges — over a deterministic synthetic
record generator shaped like the
reference's Kinesis Data Generator templates (README.md:60-72: orders
and exchange-rate JSON).  Swapping the generator for real AWS SDK calls
is a registered client factory away: ``client_mode=sdk`` routes every
read through the boto3-shaped :class:`KinesisClient` protocol
(``sources/kinesis_client.py``, contract-tested against the generator
path); every Spark-facing surface (schema, partition planning, offset
model) stays identical.

Wire parity with the reference consumer (StreamingJob.java:26-41):

- one input partition per shard — Spark parallelism == shard count,
  exactly FlinkKinesisConsumer's source-parallelism model;
- records carry (shard_id, sequence_number, partition_key, data,
  arrival_ts) with ``data`` = the JSON payload — downstream parsing goes
  through ``parse_json_stream`` (S2) like every other source;
- the streaming offset is {shard_id: next_sequence_number}, and
  ``readBetweenOffsets`` regenerates any committed range bit-for-bit
  (Kinesis' replay-by-sequence-range contract — what makes the source
  exactly-once-compatible under Structured Streaming's WAL).

Determinism: record content is a pure function of (seed, shard, seq) via
md5 — no RNG state, so batch reads, streaming reads, and recovery
replays all see identical bytes.

The module also carries the K2 SINK side (StreamingJob.java:110-130):
``format("kinesis_sim")`` as a batch or streaming writer routes records
to shards by partition-key hash — a fixed key "0" reproduces the
reference's single-shard totally-ordered output — with the two-phase
task-stage / driver-commit protocol (per-batch manifests) Structured
Streaming needs for exactly-once sinks, and the K1 policy of swallowing
serialize errors into empty payloads.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

#: wire schema — the raw record envelope, pre-parse (S2 owns the payload)
KINESIS_SIM_SCHEMA = (
    "shard_id string, sequence_number bigint, partition_key string, "
    "data string, arrival_ts timestamp"
)

CURRENCIES = ["click", "view", "signup", "purchase", "error"]
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


class ShardInfo:
    """One shard of the (possibly resharded) stream topology.

    ``parent`` / ``adjacent_parent`` mirror the service's lineage fields
    (``ParentShardId`` / ``AdjacentParentShardId``, list_shards response):
    a SPLIT child carries one parent; a MERGE child carries both closed
    parents — ``parent`` is the first, ``adjacent_parent`` the second,
    exactly how boto3 reports a merge."""

    __slots__ = ("index", "parent", "adjacent_parent", "n_records", "closed")

    def __init__(
        self,
        index: int,
        parent: int | None,
        n_records: int,
        closed: bool,
        adjacent_parent: int | None = None,
    ):
        self.index = index
        self.parent = parent  # parent shard index; None for an original shard
        self.adjacent_parent = adjacent_parent  # second parent (merge child)
        self.n_records = n_records
        self.closed = closed

    @property
    def shard_id(self) -> str:
        return f"shardId-{self.index:012d}"


def apply_reshard_plan(
    shards: int, records_per_shard: int, plan: list[dict]
) -> list[ShardInfo]:
    """Evolve the initial ``shards``-wide topology through an ordered list
    of reshard EVENTS — the general model real Kinesis streams follow
    (StreamingJob.java:26-41 is the consumer surface; a production stream
    is scaled up by splits AND scaled down by merges, repeatedly).

    Each event is a dict:

    - ``{"op": "split", "parent": i, "at": k}`` — open shard ``i`` CLOSES
      after its first ``k`` records (0 < k < its current record budget)
      and two children open at fresh consecutive indices, each carrying
      ``ParentShardId`` lineage and the parent's remaining budget
      (``n − k``) of NEW records in its own dense [0, n−k) space.
    - ``{"op": "merge", "parents": [i, j], "at": k}`` — BOTH open shards
      close after ``k`` records each (0 < k < both budgets) and ONE child
      opens at the next fresh index carrying ``ParentShardId = i`` AND
      ``AdjacentParentShardId = j`` (boto3's merge lineage) with budget
      ``max(nᵢ, nⱼ) − k``.

    Events apply in order, and children are themselves eligible parents —
    so lineage forms a DAG across arbitrarily many generations (a split
    child splitting again, two split children merging, …).  Child indices
    are assigned deterministically: each event's children take
    ``max(existing index) + 1`` onward, in event order.

    ORDERING RELAXATION (intentional, and the default's only delta from
    the service): children are planned and readable from the very first
    batch alongside their still-open parents — the simulator models
    MULTISET COMPLETENESS across a reshard boundary (no record lost,
    duplicated, or fabricated), NOT the service's parent-before-child
    delivery order, in which a consumer sees a child's records only after
    draining the closed parent.  A consumer whose correctness depends on
    cross-shard parent-before-child ordering is NOT validated by reading
    green against the default; the STREAMING reader's
    ``lineage_order=strict`` option enforces the service contract (a
    child's offset holds until all its parents drain, transitively across
    generations) for exactly that validation.  Per-shard order (dense
    ascending sequence within each shard) is faithful in every mode.
    """
    topo: dict[int, ShardInfo] = {
        s: ShardInfo(s, None, records_per_shard, False) for s in range(shards)
    }
    for n, ev in enumerate(plan):
        if not isinstance(ev, dict):
            raise ValueError(f"reshard_plan[{n}] must be a dict, got {type(ev).__name__}")
        op = ev.get("op")
        try:
            at = int(ev["at"])
        except (KeyError, TypeError, ValueError):
            raise ValueError(f"reshard_plan[{n}] needs an integer 'at'") from None

        def _open_parent(idx, n=n):
            info = topo.get(idx)
            if info is None:
                raise ValueError(f"reshard_plan[{n}]: shard {idx} does not exist")
            if info.closed:
                raise ValueError(f"reshard_plan[{n}]: shard {idx} is already closed")
            return info

        next_idx = max(topo) + 1
        if op == "split":
            p = _open_parent(ev.get("parent"))
            if not 0 < at < p.n_records:
                raise ValueError(
                    f"reshard_plan[{n}]: split at must be in (0, {p.n_records}), got {at}"
                )
            child_n = p.n_records - at
            p.n_records, p.closed = at, True
            topo[next_idx] = ShardInfo(next_idx, p.index, child_n, False)
            topo[next_idx + 1] = ShardInfo(next_idx + 1, p.index, child_n, False)
        elif op == "merge":
            parents = ev.get("parents")
            if not isinstance(parents, (list, tuple)) or len(parents) != 2:
                raise ValueError(f"reshard_plan[{n}]: merge needs 'parents': [i, j]")
            i, j = parents
            if i == j:
                raise ValueError(f"reshard_plan[{n}]: merge parents must be distinct")
            a, b = _open_parent(i), _open_parent(j)
            if not (0 < at < a.n_records and 0 < at < b.n_records):
                raise ValueError(
                    f"reshard_plan[{n}]: merge at must be in (0, "
                    f"min({a.n_records}, {b.n_records})), got {at}"
                )
            child_n = max(a.n_records, b.n_records) - at
            a.n_records, a.closed = at, True
            b.n_records, b.closed = at, True
            topo[next_idx] = ShardInfo(
                next_idx, a.index, child_n, False, adjacent_parent=b.index
            )
        else:
            raise ValueError(f"reshard_plan[{n}]: op must be 'split' or 'merge', got {op!r}")
    return [topo[k] for k in sorted(topo)]


def shard_topology(
    shards: int,
    records_per_shard: int,
    reshard_at: int | None,
    reshard_plan: list[dict] | None = None,
) -> list[ShardInfo]:
    """The stream's shard map, including any reshard events the simulator
    models (StreamingJob.java:26-41 is the consumer surface this feeds;
    real Kinesis consumers must survive splits AND merges mid-stream).

    ``reshard_at=None, reshard_plan=None``: the static map — ``shards``
    open shards carrying ``records_per_shard`` records each.
    ``reshard_at=k``: shorthand for the one-generation plan where every
    original shard splits at ``k`` — each closes after its first ``k``
    records and two children (indices ``shards + 2s`` / ``shards + 2s +
    1``) open with ``records_per_shard − k`` fresh records each.
    ``reshard_plan=[events…]``: the general multi-generation DAG model —
    see :func:`apply_reshard_plan` for event shapes (split AND merge,
    with ``AdjacentParentShardId`` lineage), child-index assignment, and
    the documented parent-before-child ORDERING RELAXATION (the simulator
    proves multiset completeness across reshard boundaries, not the
    service's cross-shard delivery order).

    Children carry NEW post-reshard data, never a replay of a parent's
    (exactly the service's model), and each child's sequence space is its
    own dense [0, n) — which is why a translation-adapter ledger extends
    across a reshard by ADDING per-child keys, not by rewriting parent
    entries (see TranslatingKinesisClient's resharding note)."""
    if reshard_at is not None and reshard_plan:
        raise ValueError("reshard_at and reshard_plan are mutually exclusive")
    if reshard_at is not None:
        reshard_plan = [{"op": "split", "parent": s, "at": reshard_at} for s in range(shards)]
    if not reshard_plan:
        return [ShardInfo(s, None, records_per_shard, False) for s in range(shards)]
    return apply_reshard_plan(shards, records_per_shard, reshard_plan)


def _parse_start_timestamp(v) -> datetime:
    """AT_TIMESTAMP option value → aware-UTC datetime.  Accepts ISO-8601
    (naive treated as UTC) or epoch seconds — the two formats Flink's
    STREAM_INITIAL_TIMESTAMP / boto3's ``Timestamp`` accept.  ISO is
    tried FIRST: compact forms like "20240101" are valid ISO-8601 basic
    dates that float() would otherwise silently misread as epoch seconds
    (→ 1970, clamping the read to TRIM_HORIZON with no error)."""
    if isinstance(v, datetime):
        ts = v
    else:
        s = str(v).strip()
        try:
            ts = datetime.fromisoformat(s.replace("Z", "+00:00"))
        except ValueError:
            ts = datetime.fromtimestamp(float(s), tz=timezone.utc)
    return ts if ts.tzinfo is not None else ts.replace(tzinfo=timezone.utc)


def seq_at_timestamp(ts_like, shard: int, interval_ms: int) -> int:
    """First sequence number at-or-after a timestamp for one shard — THE
    AT_TIMESTAMP arithmetic, shared by the connector (``_Opts.start_seq``)
    and the fake SDK client so the two paths cannot drift.

    Record seq has arrival_ts = epoch + seq·interval_ms + shard ms (see
    ``_record``), so the answer is ceil((t − epoch − shard ms)/interval),
    clamped to ≥ 0 — inclusive, like the AWS service.  Computed in
    integer microseconds: float ms would mis-round sub-millisecond
    request timestamps at the boundary."""
    ts = _parse_start_timestamp(ts_like)
    delta_us = round((ts - _EPOCH).total_seconds() * 1_000_000) - shard * 1000
    if delta_us <= 0:
        return 0
    return -(-delta_us // (interval_ms * 1000))  # ceil


def _h(seed: int, shard: int, seq: int, salt: str) -> int:
    digest = hashlib.md5(f"{seed}:{shard}:{seq}:{salt}".encode()).hexdigest()
    return int(digest[:15], 16)


_md5 = hashlib.md5
#: day-index → "YYYY-MM-DDT" prefix; the per-record path below only
#: formats intraday digits, so calendar math runs once per distinct day
_DAY_PREFIX_CACHE: dict[int, str] = {}


def _h_fast(prefix: bytes, seq: int, salt: bytes) -> int:
    """``_h`` with the per-shard key prefix hoisted and the hex round-trip
    removed: ``hexdigest()[:15]`` is the top 60 bits of the digest, i.e.
    ``int.from_bytes(digest[:8]) >> 4`` — same value, no string pass.
    Byte-equivalence with ``_h`` is pinned in tests/test_kinesis_sim.py."""
    return int.from_bytes(_md5(b"%s%d:%s" % (prefix, seq, salt)).digest()[:8], "big") >> 4


def _record(template: str, seed: int, shard: int, seq: int, interval_ms: int) -> tuple:
    """Deterministic (shard_id, seq, partition_key, json, arrival_ts).

    This IS the connector's hot loop — the one genuinely Python-side
    per-record path in the repo (the scan bench drains it at 200k records
    per sample), so it is hand-tuned while staying BYTE-identical to the
    original strftime + json.dumps formulation (identity pinned against a
    reference reimplementation in tests/test_kinesis_sim.py):

    - payload via %-format on a fixed template (key order and separators
      match ``json.dumps(..., separators=(",", ":"))``; all string fields
      are escape-free by construction),
    - ISO timestamp from divmod on the millisecond offset with the
      calendar prefix cached per day,
    - hashes via :func:`_h_fast`.

    Measured 2.5× per-record vs the original — the scan throughput
    metrics move with host speed and THIS loop, nothing else.
    """
    total_ms = seq * interval_ms + shard
    ts = _EPOCH + timedelta(milliseconds=total_ms)
    day, rem = divmod(total_ms, 86_400_000)
    day_prefix = _DAY_PREFIX_CACHE.get(day)
    if day_prefix is None:
        day_prefix = _DAY_PREFIX_CACHE[day] = (_EPOCH + timedelta(days=day)).strftime(
            "%Y-%m-%dT"
        )
    sec, ms = divmod(rem, 1000)
    hh, rs = divmod(sec, 3600)
    mm, ss = divmod(rs, 60)
    iso = "%s%02d:%02d:%02d.%06d" % (day_prefix, hh, mm, ss, ms * 1000)
    prefix = b"%d:%d:" % (seed, shard)
    currency = CURRENCIES[_h_fast(prefix, seq, b"c") % len(CURRENCIES)]
    if template == "rates":
        data = '{"exchangeRateTime":"%s","currency":"%s","rate":%d}' % (
            iso,
            currency,
            _h_fast(prefix, seq, b"r") % 97 + 2,
        )
    else:
        data = '{"id":%d,"orderTime":"%s","amount":%d,"currency":"%s"}' % (
            shard * 1_000_000_000 + seq,
            iso,
            _h_fast(prefix, seq, b"a") % 10_000 + 1,
            currency,
        )
    return (
        "shardId-%012d" % shard,
        seq,
        str(_h_fast(prefix, seq, b"pk") % 128),
        data,
        ts,
    )


class _Opts:
    """Validated option bag (data-source options arrive as strings)."""

    def __init__(self, options: dict):
        self.shards = int(options.get("shards", 1))
        self.seed = int(options.get("seed", 42))
        self.template = options.get("template", "orders")
        self.interval_ms = int(options.get("interval_ms", 10))
        #: batch mode / TRIM_HORIZON stream: records available per shard
        self.records_per_shard = int(options.get("records_per_shard", 1000))
        #: LATEST starts after this many pre-published records per shard
        self.prepublished = int(options.get("prepublished", 0))
        self.initial_position = options.get("initial_position", "TRIM_HORIZON").upper()
        #: max records returned per shard per micro-batch
        self.batch_records = int(options.get("batch_records", 100))
        # range validation up front — shards=0 would otherwise surface as an
        # empty read / ZeroDivisionError in the sink router, batch_records=0
        # as a processingTime stream that idles forever
        if self.shards < 1:
            raise ValueError(f"shards must be >= 1, got {self.shards}")
        if self.batch_records < 1:
            raise ValueError(f"batch_records must be >= 1, got {self.batch_records}")
        if self.records_per_shard < 0:
            raise ValueError(f"records_per_shard must be >= 0, got {self.records_per_shard}")
        if self.interval_ms < 1:
            # AT_TIMESTAMP divides by it; 0 was a latent ZeroDivisionError
            raise ValueError(f"interval_ms must be >= 1, got {self.interval_ms}")
        if self.template not in ("orders", "rates"):
            raise ValueError(f"template must be 'orders' or 'rates', got {self.template!r}")
        #: AT_TIMESTAMP start (FlinkKinesisConsumer's third
        #: STREAM_INITIAL_POSITION; the reference uses LATEST,
        #: StreamingJob.java:28): ISO-8601 or epoch-seconds, inclusive —
        #: the stream starts at the first record with arrival_ts >= this
        self.start_timestamp = options.get("start_timestamp")
        if self.initial_position not in ("TRIM_HORIZON", "LATEST", "AT_TIMESTAMP"):
            raise ValueError(
                "initial_position must be TRIM_HORIZON, LATEST or AT_TIMESTAMP, "
                f"got {self.initial_position!r}"
            )
        if self.initial_position == "AT_TIMESTAMP" and self.start_timestamp is None:
            raise ValueError("initial_position=AT_TIMESTAMP requires start_timestamp")
        #: reshard model: each original shard closes after this many records
        #: and splits into two children (see ``shard_topology``)
        ra = options.get("reshard_at")
        self.reshard_at = int(ra) if ra is not None else None
        #: general multi-generation reshard plan: a JSON list of split/merge
        #: events (see ``apply_reshard_plan``); mutually exclusive with
        #: ``reshard_at`` (which is the one-generation all-split shorthand)
        rp = options.get("reshard_plan")
        self.reshard_plan = json.loads(rp) if rp is not None else None
        if self.reshard_plan is not None and not isinstance(self.reshard_plan, list):
            raise ValueError(
                f"reshard_plan must be a JSON list of events, got {rp!r}"
            )
        if self.reshard_at is not None and self.reshard_plan:
            raise ValueError("reshard_at and reshard_plan are mutually exclusive")
        if self.reshard_at is not None:
            if not 0 < self.reshard_at < self.records_per_shard:
                raise ValueError(
                    f"reshard_at must be in (0, records_per_shard), got "
                    f"{self.reshard_at} of {self.records_per_shard}"
                )
        if self.reshard_at is not None or self.reshard_plan:
            if self.initial_position != "TRIM_HORIZON":
                # a LATEST/AT_TIMESTAMP attach point is ambiguous across a
                # parent→child boundary (children's clocks overlap the
                # parent's); the reshard model pins the unambiguous start
                raise ValueError(
                    "resharding requires initial_position=TRIM_HORIZON "
                    f"(got {self.initial_position})"
                )
            # validate the plan eagerly — a malformed event must fail at
            # option-parse time on the driver, not inside an executor task
            shard_topology(
                self.shards, self.records_per_shard, self.reshard_at, self.reshard_plan
            )
        #: parent-before-child delivery (streaming reader only): "relaxed"
        #: (default) admits reshard children from the first batch alongside
        #: their still-open parents — multiset completeness, not the
        #: service's cross-shard order; "strict" holds every child's offset
        #: at its cursor until ALL its parents (both, for a merge child)
        #: have drained to their closing sequences — KCL's parent-first
        #: processing contract, transitive across generations.  Batch reads
        #: ignore it: partitions execute in parallel by design.
        self.lineage_order = options.get("lineage_order", "relaxed")
        if self.lineage_order not in ("relaxed", "strict"):
            raise ValueError(
                f"lineage_order must be 'relaxed' or 'strict', got {self.lineage_order!r}"
            )
        #: record-acquisition path: "generator" = direct in-process calls
        #: (the hot default); "sdk" = route every read through a
        #: KinesisClient (boto3 wire shape) — the contract-tested seam a
        #: real AWS backend plugs into (see sources/kinesis_client.py)
        self.client_mode = options.get("client_mode", "generator")
        #: which registered client factory "sdk" mode builds on the executor
        self.client = options.get("client", "fake_sdk")
        self.stream_name = options.get("stream_name", "kinesis-sim")
        #: adapter-ledger persistence (factories that build a
        #: TranslatingKinesisClient honor these): ledger_path loads the
        #: persisted ordinal↔sequence ledger at client construction and the
        #: readers save it back (read-merge-write) after completing a
        #: range; strict_anchor=true refuses horizon recounts (the
        #: retention/trim production posture — see kinesis_client docs)
        self.ledger_path = options.get("ledger_path")
        #: fault-injection schedules for ``client=fake_throttling``
        #: (contract-testing the adapter retry obligations — see
        #: kinesis_client.ThrottlingKinesisClient): every k-th get_records
        #: raises throughput-exceeded / every m-th poisons the iterator;
        #: 0 disables.  fault_max_retries / fault_backoff_ms parameterize
        #: the RetryingKinesisClient wrapped around the faulty backend.
        self.throttle_every = int(options.get("throttle_every", 0))
        self.expire_every = int(options.get("expire_every", 0))
        self.fault_max_retries = int(options.get("fault_max_retries", 10))
        self.fault_backoff_ms = float(options.get("fault_backoff_ms", 1.0))
        if self.throttle_every < 0 or self.expire_every < 0:
            raise ValueError(
                "throttle_every/expire_every must be >= 0, got "
                f"{self.throttle_every}/{self.expire_every}"
            )
        if self.fault_max_retries < 0:
            raise ValueError(
                f"fault_max_retries must be >= 0, got {self.fault_max_retries}"
            )
        sa = str(options.get("strict_anchor", "false")).lower()
        if sa not in ("true", "false"):
            raise ValueError(f"strict_anchor must be true or false, got {sa!r}")
        self.strict_anchor = sa == "true"
        if self.client_mode not in ("generator", "sdk"):
            raise ValueError(
                f"client_mode must be 'generator' or 'sdk', got {self.client_mode!r}"
            )
        if self.client_mode == "sdk":
            from .kinesis_client import CLIENT_FACTORIES

            if self.client not in CLIENT_FACTORIES:
                raise ValueError(
                    f"unknown client {self.client!r}; registered: "
                    f"{sorted(CLIENT_FACTORIES)}"
                )

    def make_client(self):
        """Build this read's KinesisClient (executor-side; sdk mode only)."""
        from .kinesis_client import CLIENT_FACTORIES

        return CLIENT_FACTORIES[self.client](self)

    def topology(self) -> list[ShardInfo]:
        """This stream's shard map (parents + reshard children, if any)."""
        return shard_topology(
            self.shards, self.records_per_shard, self.reshard_at, self.reshard_plan
        )

    def start_seq(self, shard: int) -> int:
        """First sequence number the configured initial position yields for
        ``shard``.  For AT_TIMESTAMP: record seq has arrival_ts =
        epoch + seq·interval_ms + shard ms (see ``_record``), so the first
        seq at-or-after t is ceil((t − epoch − shard ms) / interval_ms),
        clamped to [0, ∞) — same inclusive contract as the AWS service.

        Resolution is LOCAL (the simulator's arrival model) in both
        client modes; ``client_mode=sdk`` routes record *ranges* through
        the client, not initial-position lookup.  A real-backend adapter
        already owns the ordinal↔service-sequence ledger (see
        ``kinesis_client``), and timestamp→ordinal is one more lookup in
        that ledger — the fake client's AT_TIMESTAMP iterator exists so
        an adapter's answer can be parity-tested against this formula."""
        if self.initial_position == "LATEST":
            return self.prepublished
        if self.initial_position == "AT_TIMESTAMP":
            return seq_at_timestamp(self.start_timestamp, shard, self.interval_ms)
        return 0


class _ShardPartition(InputPartition):
    def __init__(self, shard: int, start: int, end: int):
        self.shard = shard
        self.start = start
        self.end = end


class KinesisSimBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.opts = _Opts(options)

    def partitions(self):
        # one partition per shard — the connector's parallelism contract;
        # the range start honors initial_position (TRIM_HORIZON = 0,
        # LATEST = after the prepublished backlog, AT_TIMESTAMP = first
        # record at-or-after start_timestamp), same as the stream reader.
        # A resharded stream plans a partition per TOPOLOGY shard — closed
        # parents (their full closed range) AND their children — so the
        # read crosses the split boundary exactly as a service consumer
        # must (parallelism = live shard count, Flink's model)
        o = self.opts
        return [
            _ShardPartition(t.index, min(o.start_seq(t.index), t.n_records), t.n_records)
            for t in o.topology()
        ]

    def read(self, partition: _ShardPartition) -> Iterator[tuple]:
        o = self.opts
        if o.client_mode == "sdk":
            # the contract-tested seam: identical tuples, acquired through
            # the boto3-shaped client instead of direct generator calls
            from .kinesis_client import sdk_read_range

            client = o.make_client()
            yield from sdk_read_range(
                client, o.stream_name, partition.shard, partition.start, partition.end
            )
            if getattr(client, "ledger_path", None):
                # persist the ordinal↔sequence entries this range observed
                # (read-merge-write: concurrent tasks union their shards).
                # Safe under task retry — ledger entries are immutable
                # facts about stream positions, so re-saving is idempotent
                client.save_ledger()
            return
        for seq in range(partition.start, partition.end):
            yield _record(o.template, o.seed, partition.shard, seq, o.interval_ms)


class KinesisSimStreamReader(SimpleDataSourceStreamReader):
    """Offset = {shard_id: next sequence number} — the Kinesis checkpoint
    model.  ``read`` advances each shard by ≤ batch_records toward the
    shard tip (records_per_shard simulates the currently-published tip;
    an unbounded stream is records_per_shard=2**62).

    ORDERING on resharded streams: by default (``lineage_order=relaxed``)
    reshard children are admitted (and advanced) from the first batch
    alongside their still-open parents, so records interleave across a
    reshard boundary — the real service delivers a child's records only
    after the consumer drains the closed parent (parent-before-child).
    The relaxed mode validates MULTISET COMPLETENESS across the boundary,
    not cross-shard delivery order; see ``apply_reshard_plan`` for the
    full statement.  ``lineage_order=strict`` opts into the service
    consumer's contract: every child's offset holds at its cursor until
    ALL its parents have drained to their closing sequences (transitive
    across generations; a merge child waits for both parents) — use it to
    validate consumers whose correctness depends on parent-before-child
    order.  Per-shard order is faithful in both modes (dense ascending
    sequence)."""

    def __init__(self, options: dict):
        self.opts = _Opts(options)

    def initialOffset(self) -> dict:
        o = self.opts
        return {t.shard_id: o.start_seq(t.index) for t in o.topology()}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        o = self.opts
        # SHARD DISCOVERY: a checkpointed offset dict can predate a
        # reshard (the stream split after the checkpoint was taken), so
        # topology shards missing from `start` are admitted at their own
        # horizon — the offset dict GROWS across the split, exactly how a
        # service consumer discovers child shards mid-stream.  Spark
        # treats the offset as opaque JSON, so new keys flow through the
        # WAL like any other offset change.
        start = dict(start)
        for t in o.topology():
            if t.shard_id not in start:
                start[t.shard_id] = min(o.start_seq(t.index), t.n_records)
        # per-shard tips: a closed parent's tip is its closing sequence,
        # a reshard child's is its own record count (offsets for shards
        # absent from the topology — e.g. a restart with changed options —
        # saturate at the cursor rather than regressing)
        topo = {t.shard_id: t for t in o.topology()}
        tips = {sid: t.n_records for sid, t in topo.items()}
        end = {}
        for shard_name, cursor in start.items():
            tip = tips.get(shard_name, int(cursor))
            # clamp at the cursor, never below it: a checkpointed restart
            # with a SMALLER records_per_shard must not hand Spark a
            # regressing offset (the WAL assumes monotonic offsets)
            end[shard_name] = max(int(cursor), min(int(cursor) + o.batch_records, tip))
        if o.lineage_order == "strict":
            # KCL's parent-first contract: hold a child at its cursor until
            # every parent has drained to its closing sequence.  A held
            # grandchild's parent is itself held until ITS parents drain,
            # so the order is transitive across reshard generations; a
            # merge child waits for BOTH closed parents.  (Gate on the
            # parents' START cursors: a parent whose tip is reached only
            # by THIS batch's `end` still holds its children here, so a
            # parent finishing within a batch releases its children next
            # batch, never concurrently with its own final records.)
            for shard_name in end:
                t = topo.get(shard_name)
                if t is None:
                    continue
                parents = [p for p in (t.parent, t.adjacent_parent) if p is not None]
                if any(
                    int(start.get(f"shardId-{p:012d}", 0)) < tips[f"shardId-{p:012d}"]
                    for p in parents
                ):
                    end[shard_name] = int(start[shard_name])
        return self._generate(start, end), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # deterministic regeneration of any committed range — Kinesis'
        # replay-by-sequence-range; required for recovery after a failure.
        # strict: a committed range the backend can't fully serve must
        # fail the task loudly, never silently shrink (exactly-once)
        return self._generate(start, end, strict=True)

    def _generate(self, start: dict, end: dict, strict: bool = False) -> Iterator[tuple]:
        # a LIST ITERATOR, not a generator and not a bare list: Spark's
        # prefetch cache copy.copy()s the returned value when planning
        # partitions (generators are not copyable), while the checkpoint-
        # recovery path consumes it with next() (bare lists are not
        # iterators).  iter(list) satisfies both — list iterators are
        # copyable via the pickle protocol.  Size is bounded by
        # batch_records × shards.
        o = self.opts
        out = []
        if o.client_mode == "sdk":
            from .kinesis_client import sdk_read_range

            client = o.make_client()
            for shard_name, cursor in start.items():
                shard = int(shard_name.rsplit("-", 1)[1])
                out.extend(
                    sdk_read_range(
                        client,
                        o.stream_name,
                        shard,
                        int(cursor),
                        int(end[shard_name]),
                        require_complete=strict,
                    )
                )
            if getattr(client, "ledger_path", None):
                # one client serves every shard of this micro-batch;
                # persist its accumulated entries at the batch boundary —
                # the same cadence Spark durably owns the offsets
                client.save_ledger()
            return iter(out)
        for shard_name, cursor in start.items():
            shard = int(shard_name.rsplit("-", 1)[1])
            for seq in range(int(cursor), int(end[shard_name])):
                out.append(_record(o.template, o.seed, shard, seq, o.interval_ms))
        return iter(out)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up — the generator is stateless


class _PutsCommitMessage(WriterCommitMessage):
    """Per-task commit message: the uncommitted files this task staged."""

    def __init__(self, files: list[tuple[int, str, int, int]]):
        self.files = files  # (shard, tmp_path, n_records, n_empty_payloads)


class _KinesisSimWriterBase:
    """Shared K2-parity writer core: rows → JSON puts routed to shards by
    partition-key hash (fixed key "0" ⇒ one shard ⇒ totally ordered
    output, StreamingJob.java:127), staged to uncommitted files by tasks
    and made visible atomically by the driver-side commit — the
    transactional two-phase contract Structured Streaming requires for
    exactly-once sinks."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kinesis_sim sink requires a 'path' option")
        self.shards = int(options.get("shards", 1))
        if self.shards < 1:
            raise ValueError(f"shards must be >= 1, got {self.shards}")
        self.partition_key = options.get("partition_key")  # fixed key (e.g. "0")
        self.partition_key_col = options.get("partition_key_col")
        #: FAULT-INJECTION test seam (exactly-once-under-retry tests): when
        #: "after_stage", every task's FIRST attempt raises after it has
        #: fully staged its files — the worst-case retry point, because the
        #: orphaned attempt-0 files exist on disk when the retry runs.  The
        #: two-phase contract keeps them invisible: only files named by the
        #: winning attempt's commit message are moved into the batch dir and
        #: the manifest, and readers go through the manifest alone.
        self.inject_task_failure = options.get("inject_task_failure", "")
        if self.inject_task_failure not in ("", "after_stage"):
            raise ValueError(
                f"inject_task_failure must be '' or 'after_stage', "
                f"got {self.inject_task_failure!r}"
            )

    def _route(self, row) -> int:
        if self.partition_key is not None:
            key = self.partition_key
        elif self.partition_key_col is not None:
            key = str(row[self.partition_key_col])
        else:
            key = "0"
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % self.shards

    def write(self, iterator) -> _PutsCommitMessage:
        import os
        import uuid

        tmp_dir = os.path.join(self.path, ".uncommitted")
        os.makedirs(tmp_dir, exist_ok=True)
        buffers: dict[int, list[str]] = {}
        empties: dict[int, int] = {}
        for row in iterator:
            # serialize-error policy K1: a bad record becomes an empty
            # payload, never a failed task (StreamingJob.java:110-125);
            # written as "{}" so every manifest-counted line is valid JSONL
            shard = self._route(row)
            try:
                payload = json.dumps(row.asDict(), separators=(",", ":"), default=str)
            except Exception:
                payload = "{}"
                empties[shard] = empties.get(shard, 0) + 1
            buffers.setdefault(shard, []).append(payload)
        files = []
        for shard, lines in buffers.items():
            tmp = os.path.join(tmp_dir, f"{uuid.uuid4().hex}-shard-{shard}.jsonl")
            with open(tmp, "w") as f:
                f.write("\n".join(lines))
            files.append((shard, tmp, len(lines), empties.get(shard, 0)))
        if self.inject_task_failure == "after_stage":
            from pyspark import TaskContext

            ctx = TaskContext.get()
            if ctx is not None and ctx.attemptNumber() == 0:
                raise RuntimeError(
                    "fault injection: killing first write attempt after staging "
                    f"{len(files)} file(s) — retry must re-stage and commit exactly once"
                )
        return _PutsCommitMessage(files)

    def _finalize(self, messages, batch_id: int) -> None:
        import os
        import shutil

        batch_dir = os.path.join(self.path, f"batch={batch_id:08d}")
        if os.path.exists(os.path.join(batch_dir, "_manifest.json")):
            # this batchId already committed (streaming replay after a
            # post-commit crash) — drop the duplicate attempt's staged
            # files so directory contents and manifest stay in agreement
            self._abort(messages)
            return
        if os.path.isdir(batch_dir):
            # a prior attempt crashed mid-place: clear its orphans so a
            # raw glob over batch=*/shardId-*/ matches the manifest.
            # Contents only — removing the dir itself would void the
            # atomic-mkdir batch claim the batch writer just made.
            for entry in os.listdir(batch_dir):
                p = os.path.join(batch_dir, entry)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        manifest = []
        for m in messages:
            if m is None:
                continue
            for shard, tmp, n, n_empty in m.files:
                shard_dir = os.path.join(batch_dir, f"shardId-{shard:012d}")
                os.makedirs(shard_dir, exist_ok=True)
                final = os.path.join(shard_dir, os.path.basename(tmp))
                os.replace(tmp, final)
                manifest.append({"shard": shard, "file": final, "n": n, "n_empty": n_empty})
        os.makedirs(batch_dir, exist_ok=True)
        with open(os.path.join(batch_dir, "_manifest.json"), "w") as f:
            json.dump(manifest, f)

    def _abort(self, messages) -> None:
        import os

        for m in messages:
            if m is None:
                continue
            for _shard, tmp, *_rest in m.files:
                try:
                    os.remove(tmp)
                except FileNotFoundError:
                    pass


class KinesisSimBatchWriter(_KinesisSimWriterBase, DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool = False):
        super().__init__(options)
        self.overwrite = overwrite

    def commit(self, messages) -> None:
        # append semantics: each batch write claims the next free batch
        # index — a hardcoded 0 would overwrite the previous write's
        # manifest and orphan its records.  mode("overwrite") truncates
        # the stream first (DataSourceWriter overwrite contract).
        import os
        import re
        import shutil

        if self.overwrite and os.path.isdir(self.path):
            for d in os.listdir(self.path):
                if re.fullmatch(r"batch=\d+", d):
                    shutil.rmtree(os.path.join(self.path, d))
        # claim the index with an atomic mkdir — listdir+max would let two
        # concurrent writers claim the same batch and clobber each other
        os.makedirs(self.path, exist_ok=True)
        batch_id = 0
        if os.path.isdir(self.path):
            taken = [
                int(m.group(1))
                for d in os.listdir(self.path)
                if (m := re.fullmatch(r"batch=(\d+)", d))
            ]
            batch_id = max(taken, default=-1) + 1
        while True:
            try:
                os.mkdir(os.path.join(self.path, f"batch={batch_id:08d}"))
                break
            except FileExistsError:
                batch_id += 1
        self._finalize(messages, batch_id)

    def abort(self, messages) -> None:
        self._abort(messages)


class KinesisSimStreamWriter(_KinesisSimWriterBase, DataSourceStreamWriter):
    def commit(self, messages, batchId: int) -> None:
        self._finalize(messages, batchId)

    def abort(self, messages, batchId: int) -> None:
        self._abort(messages)


class KinesisSimDataSource(DataSource):
    """``spark.read.format("kinesis_sim")`` / ``spark.readStream.format(
    "kinesis_sim")`` after ``spark.dataSource.register(KinesisSimDataSource)``.

    Options: shards, seed, template (orders|rates), interval_ms,
    records_per_shard, prepublished, initial_position
    (TRIM_HORIZON|LATEST|AT_TIMESTAMP with start_timestamp),
    batch_records; reshard_at (every original shard closes after this
    many records and splits into two lineage-carrying children — see
    ``shard_topology``); reshard_plan (JSON list of split/merge events —
    the multi-generation DAG model with ``AdjacentParentShardId`` merge
    lineage, see ``apply_reshard_plan``; note its documented
    parent-before-child ordering relaxation); lineage_order
    (relaxed|strict — strict holds streaming children until their parents
    drain, KCL's parent-first contract); client_mode
    (generator|sdk), client (registered KinesisClient factory name,
    default fake_sdk), stream_name, ledger_path + strict_anchor
    (adapter-ledger persistence: load at client construction, save back
    read-merge-write after each completed range; strict refuses horizon
    recounts) — the real-AWS seam, see sources/kinesis_client.py.
    """

    @classmethod
    def name(cls) -> str:
        return "kinesis_sim"

    def schema(self) -> str:
        return KINESIS_SIM_SCHEMA

    def reader(self, schema) -> KinesisSimBatchReader:
        return KinesisSimBatchReader(self.options)

    def simpleStreamReader(self, schema) -> KinesisSimStreamReader:
        return KinesisSimStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> KinesisSimBatchWriter:
        return KinesisSimBatchWriter(self.options, overwrite=overwrite)

    def streamWriter(self, schema, overwrite: bool) -> KinesisSimStreamWriter:
        return KinesisSimStreamWriter(self.options)


def register(spark) -> None:
    """Idempotently register the connector with a session."""
    spark.dataSource.register(KinesisSimDataSource)
