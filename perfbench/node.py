"""Seeded in-process fake beacon node with ground truth.

``Chain`` renders every block body once, at set-up, from a seed: a
contiguous Gnosis slot range that straddles the deneb -> electra boundary,
with a seeded mix of attestations, transactions, withdrawals, blob
commitments and execution requests per block, about 3% empty slots (404)
and about 1% slots whose first request answers 503 and whose retry
succeeds. Serving a request is then a dict lookup.

The program reaches the node only through its public injection points:
``BeaconAPI(transport=...)`` on the driver and the picklable
``api_factory`` of ``fetch_slots_distributed`` on executors. Executors load
the rendered bodies from a file written at set-up (one load per worker
process), so the pickled factory stays small.
"""

from __future__ import annotations

import pickle
import random
import re
import time
from dataclasses import dataclass, field

from beacon_indexer_spark.config import GNOSIS
from beacon_indexer_spark.sources.beacon_api import BeaconAPI

ELECTRA_SLOT = GNOSIS.activation_slot("electra")
BASE_URL = "http://fake-node"
_BLOCK_RE = re.compile(r"/eth/v2/beacon/blocks/(\d+)$")

# the 13 structured tables raw_blocks fans out into
BLOCK_TABLES = (
    "blocks", "attestations", "deposits", "voluntary_exits",
    "proposer_slashings", "attester_slashings", "sync_aggregates",
    "execution_payloads", "transactions", "withdrawals", "bls_changes",
    "blob_commitments", "execution_requests",
)


def _hex(rng: random.Random, n_bytes: int) -> str:
    return "0x" + rng.getrandbits(8 * n_bytes).to_bytes(n_bytes, "big").hex()


def _draw_counts(rng: random.Random, slot: int) -> dict[str, int]:
    """Child-row counts per structured table for one block."""
    electra = slot >= ELECTRA_SLOT
    rare = lambda p: 1 if rng.random() < p else 0  # noqa: E731
    rows = {
        "blocks": 1, "attestations": rng.randint(1, 6), "deposits": rare(0.02),
        "voluntary_exits": rare(0.02), "proposer_slashings": rare(0.005),
        "attester_slashings": rare(0.005), "sync_aggregates": 1,
        "execution_payloads": 1, "transactions": rng.choice((0, 1, 2, 3, 5, 8)),
        "withdrawals": rng.randint(0, 4), "bls_changes": rare(0.02),
        "blob_commitments": rng.choice((0, 0, 1, 2, 3)),
    }
    # execution requests exist from electra on: deposit / withdrawal /
    # consolidation request counts; the table gets one row per block with any
    req = (rare(0.1), rare(0.05), rare(0.03)) if electra else (0, 0, 0)
    rows["execution_requests"] = 1 if any(req) else 0
    rows["_requests"] = req
    return rows


def _block(rng: random.Random, slot: int, proposer: int, rows: dict) -> dict:
    """One block payload with the given child-row counts."""
    version = "electra" if slot >= ELECTRA_SLOT else "deneb"
    n_att, n_tx, n_wd = rows["attestations"], rows["transactions"], rows["withdrawals"]
    n_blob, n_dep, n_exit = rows["blob_commitments"], rows["deposits"], rows["voluntary_exits"]
    n_psl, n_asl, n_bls = (rows["proposer_slashings"], rows["attester_slashings"],
                           rows["bls_changes"])
    root = _hex(rng, 32)
    body = {
        "randao_reveal": _hex(rng, 96),
        "graffiti": _hex(rng, 32),
        "eth1_data": {"deposit_root": root, "deposit_count": str(slot // 64),
                      "block_hash": _hex(rng, 32)},
        "attestations": [
            {
                "aggregation_bits": _hex(rng, 8),
                "data": {
                    "slot": str(slot - 1), "index": str(i),
                    "beacon_block_root": root,
                    "source": {"epoch": str(slot // 16 - 2), "root": root},
                    "target": {"epoch": str(slot // 16 - 1), "root": root},
                },
                "signature": _hex(rng, 96),
                **({"committee_bits": _hex(rng, 8)} if version == "electra" else {}),
            }
            for i in range(n_att)
        ],
        "deposits": [
            {"proof": [root], "data": {"pubkey": _hex(rng, 48),
                                       "withdrawal_credentials": root,
                                       "amount": "1000000000",
                                       "signature": _hex(rng, 96)}}
            for _ in range(n_dep)
        ],
        "voluntary_exits": [
            {"message": {"epoch": str(slot // 16),
                         "validator_index": str(rng.randint(0, 200_000))},
             "signature": _hex(rng, 96)}
            for _ in range(n_exit)
        ],
        "proposer_slashings": [
            {f"signed_header_{k}": {
                "message": {"slot": str(slot - 3), "proposer_index": "7",
                            "parent_root": root, "state_root": _hex(rng, 32),
                            "body_root": _hex(rng, 32)},
                "signature": _hex(rng, 96)} for k in (1, 2)}
            for _ in range(n_psl)
        ],
        "attester_slashings": [
            {f"attestation_{k}": {
                "attesting_indices": [str(k), "11", "12"],
                "data": {"slot": str(slot - 4), "index": "0",
                         "beacon_block_root": _hex(rng, 32),
                         "source": {"epoch": "1", "root": root},
                         "target": {"epoch": "2", "root": root}},
                "signature": _hex(rng, 96)} for k in (1, 2)}
            for _ in range(n_asl)
        ],
        "sync_aggregate": {"sync_committee_bits": _hex(rng, 64),
                           "sync_committee_signature": _hex(rng, 96)},
        "execution_payload": {
            "parent_hash": _hex(rng, 32), "fee_recipient": _hex(rng, 20),
            "state_root": _hex(rng, 32), "receipts_root": _hex(rng, 32),
            "logs_bloom": "0x" + "00" * 256, "prev_randao": _hex(rng, 32),
            "block_number": str(slot - 2_000_000), "gas_limit": "17000000",
            "gas_used": str(rng.randint(0, 17_000_000)),
            "timestamp": str(GNOSIS.slot_to_timestamp(slot)),
            "extra_data": "0x", "base_fee_per_gas": str(rng.randint(1, 10**9)),
            "block_hash": _hex(rng, 32),
            "transactions": [_hex(rng, rng.randint(40, 300)) for _ in range(n_tx)],
            "withdrawals": [
                {"index": str(slot * 8 + i),
                 "validator_index": str(rng.randint(0, 200_000)),
                 "address": _hex(rng, 20), "amount": str(rng.randint(1, 10**7))}
                for i in range(n_wd)
            ],
            "blob_gas_used": str(131072 * n_blob), "excess_blob_gas": "0",
        },
        "bls_to_execution_changes": [
            {"message": {"validator_index": str(rng.randint(0, 200_000)),
                         "from_bls_pubkey": _hex(rng, 48),
                         "to_execution_address": _hex(rng, 20)},
             "signature": _hex(rng, 96)}
            for _ in range(n_bls)
        ],
        "blob_kzg_commitments": [_hex(rng, 48) for _ in range(n_blob)],
    }
    if version == "electra":
        n_rd, n_rw, n_rc = rows["_requests"]
        body["execution_requests"] = {
            "deposits": [{"pubkey": _hex(rng, 48), "withdrawal_credentials": root,
                          "amount": "1000000000", "signature": _hex(rng, 96),
                          "index": str(slot)} for _ in range(n_rd)],
            "withdrawals": [{"source_address": _hex(rng, 20),
                             "validator_pubkey": _hex(rng, 48),
                             "amount": "0"} for _ in range(n_rw)],
            "consolidations": [{"source_address": _hex(rng, 20),
                                "source_pubkey": _hex(rng, 48),
                                "target_pubkey": _hex(rng, 48)}
                               for _ in range(n_rc)],
        }
    payload = {
        "version": version,
        "data": {
            "message": {"slot": str(slot), "proposer_index": str(proposer),
                        "parent_root": root, "state_root": _hex(rng, 32),
                        "body": body},
            "signature": _hex(rng, 96),
        },
    }
    return payload


def _dumps(payload: dict) -> str:
    import json

    return json.dumps(payload, separators=(",", ":"))


@dataclass
class SlotTruth:
    version: str
    proposer: int
    rows: dict[str, int]


@dataclass
class Chain:
    """Rendered bodies and the truth for ``n_slots`` slots from ``start``.

    ``reorg_slots`` get a second payload: same child-row counts, another
    proposer and fresh roots. The node serves it once :meth:`reorg` has
    been called for that slot.
    """

    seed: int
    start: int
    n_slots: int
    reorg_every: int = 0  # one re-orged slot per this many slots (0 = none)
    bodies: dict[int, str] = field(default_factory=dict, repr=False)
    alt_bodies: dict[int, str] = field(default_factory=dict, repr=False)
    truth: dict[int, SlotTruth] = field(default_factory=dict, repr=False)
    alt_truth: dict[int, SlotTruth] = field(default_factory=dict, repr=False)
    flaky: set[int] = field(default_factory=set, repr=False)

    def __post_init__(self) -> None:
        rng = random.Random(self.seed)
        for slot in range(self.start, self.start + self.n_slots):
            r = rng.random()
            if r < 0.03:
                continue  # empty slot: 404
            if r < 0.04:
                self.flaky.add(slot)  # first request 503, retry succeeds
            proposer = rng.randint(0, 399)
            rows = _draw_counts(rng, slot)
            payload = _block(rng, slot, proposer, rows)
            self.bodies[slot] = _dumps(payload)
            self.truth[slot] = SlotTruth(payload["version"], proposer, rows)
        if self.reorg_every:
            for slot in sorted(self.bodies)[self.reorg_every // 2::self.reorg_every]:
                # a re-org replaces the block with another proposer and
                # fresh roots; its child arrays keep their lengths so every
                # structured key of the old block is overwritten (NOTES.md)
                alt = random.Random(f"{self.seed}:{slot}")
                proposer = 400 + alt.randint(0, 99)
                rows = self.truth[slot].rows
                payload = _block(alt, slot, proposer, rows)
                self.alt_bodies[slot] = _dumps(payload)
                self.alt_truth[slot] = SlotTruth(payload["version"], proposer, rows)

    @property
    def end(self) -> int:
        return self.start + self.n_slots - 1

    def empty_slots(self) -> list[int]:
        return [s for s in range(self.start, self.end + 1) if s not in self.bodies]

    def expected_rows(self, reorged: set[int] | frozenset = frozenset()) -> dict[str, int]:
        """Rows per structured table once ``reorged`` slots carry their
        re-org payload."""
        out = dict.fromkeys(BLOCK_TABLES, 0)
        for slot, t in self.truth.items():
            src = self.alt_truth[slot] if slot in reorged else t
            for k in BLOCK_TABLES:
                out[k] += src.rows[k]
        return out

    def payload_bytes(self) -> int:
        return sum(len(b) for b in self.bodies.values())

    def save(self, path: str) -> None:
        with open(path, "wb") as f:
            pickle.dump((self.bodies, self.flaky), f, protocol=pickle.HIGHEST_PROTOCOL)


class NodeTransport:
    """``Transport`` over rendered bodies: (url, params, timeout) ->
    (status, body). A slot in ``flaky`` answers 503 to its first request on
    this transport instance. ``served`` overrides bodies per slot (re-orgs)."""

    def __init__(self, bodies: dict[int, str], flaky: set[int], counters=None):
        self.bodies = bodies
        self.flaky = flaky
        self.served: dict[int, str] = {}
        self.failed_once: set[int] = set()
        self.counters = counters

    def __call__(self, url: str, params, timeout: float) -> tuple[int, str]:
        m = _BLOCK_RE.search(url)
        status, body = 404, '{"code":404,"message":"NOT_FOUND"}'
        if m is not None:
            slot = int(m.group(1))
            if slot in self.flaky and slot not in self.failed_once:
                self.failed_once.add(slot)
                status, body = 503, '{"code":503,"message":"busy"}'
            elif slot in self.served:
                status, body = 200, self.served[slot]
            elif slot in self.bodies:
                status, body = 200, self.bodies[slot]
        if self.counters is not None:
            self.counters.count(status)
        return status, body


_LOADED: dict[str, tuple[dict[int, str], set[int]]] = {}


def _load(path: str) -> tuple[dict[int, str], set[int]]:
    """Bodies file -> (bodies, flaky), loaded once per worker process."""
    got = _LOADED.get(path)
    if got is None:
        with open(path, "rb") as f:
            got = pickle.load(f)  # written by Chain.save in this benchmark
        _LOADED[path] = got
    return got


def _no_sleep(_s: float) -> None:
    return None


class FetchCounters:
    """Request counts at the node boundary, as Spark accumulators so
    executor-side fetches reach the driver. Picklable."""

    def __init__(self, sc):
        self.requests = sc.accumulator(0)
        self.ok = sc.accumulator(0)
        self.not_found = sc.accumulator(0)
        self.retries = sc.accumulator(0)  # 503 answers; each one is retried
        self.get_ms = sc.accumulator(0.0)

    def count(self, status: int) -> None:
        self.requests.add(1)
        if status == 200:
            self.ok.add(1)
        elif status == 404:
            self.not_found.add(1)
        elif status == 503:
            self.retries.add(1)

    def wrap_api(self, base_url: str, transport) -> BeaconAPI:
        return TimedBeaconAPI(base_url, transport=transport, sleep=_no_sleep,
                              counters=self)


@dataclass
class TimedBeaconAPI(BeaconAPI):
    """``BeaconAPI`` whose ``get`` (retries and JSON parse included) adds
    its wall time to ``counters.get_ms``."""

    counters: FetchCounters | None = None

    def get(self, endpoint, params=None, allow_empty_404=True):
        t0 = time.perf_counter()
        try:
            return super().get(endpoint, params, allow_empty_404)
        finally:
            self.counters.get_ms.add((time.perf_counter() - t0) * 1000.0)


@dataclass(frozen=True)
class NodeAPIFactory:
    """Picklable ``api_factory``: a ``BeaconAPI`` over the node's bodies
    file. ``counters`` (optional) counts requests per status on the
    executors; retries do not sleep."""

    bodies_path: str
    counters: FetchCounters | None = None

    def __call__(self) -> BeaconAPI:
        bodies, flaky = _load(self.bodies_path)
        transport = NodeTransport(bodies, flaky, counters=self.counters)
        if self.counters is not None:
            return self.counters.wrap_api(BASE_URL, transport)
        return BeaconAPI(BASE_URL, transport=transport, sleep=_no_sleep)
