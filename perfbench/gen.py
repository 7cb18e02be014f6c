"""Seeded inputs for every benchmark part.

Everything here is plain Python written from the Avro, Spring-header and
KPL wire specs, so the library under test only ever sees the generated
bytes: a bug in its encoders cannot make its own inputs agree with its
decoders. The same seed gives byte-identical inputs (``Inputs.digest``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import struct
import zlib
from dataclasses import dataclass, field

EVENT_SCHEMA = {
    "type": "record",
    "name": "Event",
    "namespace": "bench.events",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": ["null", "string"], "default": None},
    ],
}
EVENT_FIELDS = [f["name"] for f in EVENT_SCHEMA["fields"]]

# array, map, a three-branch union and a nested record: the shapes the
# vector tier declines, so reads go through the generated (codegen) tier
NESTED_SCHEMA = {
    "type": "record",
    "name": "Order",
    "namespace": "bench.lake",
    "fields": [
        {"name": "order_id", "type": "long"},
        {"name": "qty", "type": "int"},
        {"name": "note", "type": "string"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "double"}},
        {"name": "ref", "type": ["null", "string", "long"]},
        {
            "name": "ship",
            "type": {
                "type": "record",
                "name": "Address",
                "fields": [
                    {"name": "city", "type": "string"},
                    {"name": "zip", "type": "int"},
                ],
            },
        },
    ],
}

# evolution: `note` dropped, `qty` promoted int→long, `priority` added
# with a default that every row must come back with
PRIORITY_DEFAULT = 3
EVOLVED_READER = {
    "type": "record",
    "name": "Order",
    "namespace": "bench.lake",
    "fields": [
        {"name": "order_id", "type": "long"},
        {"name": "qty", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "double"}},
        {"name": "ref", "type": ["null", "string", "long"]},
        {
            "name": "ship",
            "type": {
                "type": "record",
                "name": "Address",
                "fields": [
                    {"name": "city", "type": "string"},
                    {"name": "zip", "type": "int"},
                ],
            },
        },
        {"name": "priority", "type": "int", "default": PRIORITY_DEFAULT},
    ],
}

EVENT_TYPES = ("click", "view", "purchase", "signup", "logout")
BASE_TS_US = 1_700_000_000_000_000
REGISTRY_STREAM = "bench-events"
SPRING_CONTENT_TYPE = "application/vnd.event.v1+avro"

# words for the nested table's strings
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

# per-part sizes; the traced and untraced runs use the same ones
# one poison batch in three keeps the median micro-batch a clean one
KAFKA_BATCHES = 3
KAFKA_ROWS_PER_BATCH = 4000
POISON_BATCHES = (1,)
POISON_PER_BATCH = 18
KINESIS_BATCHES = 3
KINESIS_CELLS_PER_BATCH = 10
KINESIS_RECORDS_PER_CELL = 200
FLAT_ROWS = 3000
NESTED_ROWS = 1000
UDF_POOL = 2
UDF_REGISTRY_ROWS = 1000
UDF_CONTAINER_CELLS = 10
UDF_CONTAINER_RECORDS = 500
UDF_KPL_CELLS = 10
UDF_KPL_RECORDS = 100
# invocations of each kind in one 50-invocation cycle of the traffic mix;
# the cycle is a seeded shuffle of this fixed multiset, so every seed sends
# the same mix, and the p50 and p90 fall inside a kind's cluster
# (spring_kpl and container) instead of between two of them
UDF_MIX = (("registry", 15), ("container", 15), ("spring_kpl", 20))


# ---------------------------------------------------------------- wire


def _uvarint_slow(n: int) -> bytes:
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


_SMALL_VARINTS = [_uvarint_slow(n) for n in range(1 << 14)]


def _uvarint(n: int) -> bytes:
    return _SMALL_VARINTS[n] if n < 16384 else _uvarint_slow(n)


def _zz(n: int) -> bytes:
    """Avro zigzag varint of a long."""
    return _uvarint((n << 1) ^ (n >> 63))


def _avro_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _zz(len(b)) + b


def encode_event(e: dict) -> bytes:
    """Avro binary encoding of one Event datum: the hot path of input
    generation, byte-identical to ``encode(EVENT_SCHEMA, e)``."""
    props = e["props"]
    return b"".join(
        (
            _zz(e["event_id"]),
            _zz(e["ts"]),
            _zz(e["user_id"]),
            _avro_str(e["event_type"]),
            struct.pack("<d", e["value"]),
            b"\x00" if props is None else b"\x02" + _avro_str(props),
        )
    )


def encode(schema, value) -> bytes:
    """Avro binary encoding for the schema shapes used here (records,
    arrays, maps, unions of null/string/long, and the primitives)."""
    if isinstance(schema, list):
        for i, branch in enumerate(schema):
            if (branch, type(value)) in (("null", type(None)), ("string", str), ("long", int)):
                return _zz(i) + encode(branch, value)
        raise TypeError(f"no union branch for {value!r}")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return b"".join(encode(f["type"], value[f["name"]]) for f in schema["fields"])
        if t == "array":
            body = b"".join(encode(schema["items"], v) for v in value)
            return (_zz(len(value)) + body if value else b"") + b"\x00"
        if t == "map":
            body = b"".join(_avro_str(k) + encode(schema["values"], v) for k, v in value.items())
            return (_zz(len(value)) + body if value else b"") + b"\x00"
        return encode(t, value)
    if schema == "null":
        return b""
    if schema in ("int", "long"):
        return _zz(value)
    if schema == "double":
        return struct.pack("<d", value)
    if schema == "string":
        return _avro_str(value)
    raise TypeError(f"unsupported schema {schema!r}")


def spring_message(headers: dict, body: bytes) -> bytes:
    """Spring Cloud Stream embedded headers: 0xFF, count, then per header
    key length, key, 4-byte big-endian value length, JSON value."""
    out = bytearray((0xFF, len(headers)))
    for k, v in headers.items():
        kb, vb = k.encode(), json.dumps(v).encode()
        out += bytes((len(kb),)) + kb + len(vb).to_bytes(4, "big") + vb
    return bytes(out) + body


def _pb_len(fieldno: int, payload: bytes) -> bytes:
    return _uvarint((fieldno << 3) | 2) + _uvarint(len(payload)) + payload


def kpl_aggregate(partition_key: str, datas: list) -> bytes:
    """KPL AggregatedRecord (proto2 wire format): one partition key, every
    record at partition_key_index 0."""
    parts = [_pb_len(1, partition_key.encode())]
    for d in datas:
        parts.append(_pb_len(3, _uvarint(1 << 3) + _uvarint(0) + _pb_len(3, d)))
    return b"".join(parts)


def container_file(schema: dict, datums: list, sync: bytes, block_rows: int = 200) -> bytes:
    """Avro object container file, deflate codec (raw deflate, wbits -15)."""
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": b"deflate",
    }
    out = bytearray(b"Obj\x01")
    out += _zz(len(meta))
    for k, v in meta.items():
        out += _avro_str(k) + _zz(len(v)) + v
    out += b"\x00" + sync
    for i in range(0, len(datums), block_rows):
        block = datums[i : i + block_rows]
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = c.compress(b"".join(block)) + c.flush()
        out += _zz(len(block)) + _zz(len(payload)) + payload + sync
    return bytes(out)


# --------------------------------------------------------------- values


def _event(rng: random.Random, event_id: int) -> dict:
    bits = rng.getrandbits(40)
    return {
        "event_id": event_id,
        "ts": BASE_TS_US + event_id * 1000 + (bits & 1023),
        "user_id": (bits >> 10) & 4095,
        "event_type": EVENT_TYPES[((bits >> 22) & 7) % len(EVENT_TYPES)],
        # multiples of 0.5 sum exactly in binary floating point, so the
        # stream aggregates compare with ==
        "value": ((bits >> 25) & 15) % 9 * 0.5,
        "props": None if (bits >> 29) & 3 == 0 else f"k{(bits >> 31) & 127}=v{(bits >> 38) & 3}",
    }


def event_json(e: dict) -> dict:
    """The Redshift-protocol JSON of one decoded Event."""
    ts = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(microseconds=e["ts"])
    return {**e, "ts": ts.isoformat()}


def _poison(e: dict, k: int) -> bytes:
    """A datum no tier can decode: truncated mid-record, an out-of-range
    union branch, or a negative string length."""
    good = encode_event(e)
    head = _zz(e["event_id"]) + _zz(e["ts"]) + _zz(e["user_id"])
    kind = k % 3
    if kind == 0:
        return good[: len(head) + 1]
    if kind == 1:
        return head + _avro_str(e["event_type"]) + struct.pack("<d", e["value"]) + _zz(7)
    return head + _zz(-5) + b"abc"


def _nested_row(rng: random.Random, i: int) -> dict:
    r = rng.random()
    ref = None if r < 0.3 else (f"r{rng.randrange(1000)}" if r < 0.65 else rng.randrange(1 << 40))
    return {
        "order_id": i,
        "qty": rng.randrange(-1000, 100000),
        "note": " ".join(rng.choice(VOCAB) for _ in range(rng.randrange(1, 6))),
        "tags": [rng.choice(VOCAB) for _ in range(rng.randrange(0, 4))],
        "attrs": {f"a{j}": rng.randrange(0, 400) * 0.25 for j in range(rng.randrange(0, 3))},
        "ref": ref,
        "ship": {"city": rng.choice(("Oslo", "Lima", "Pune", "Kyiv")), "zip": rng.randrange(10000, 99999)},
    }


# --------------------------------------------------------------- inputs


@dataclass
class Inputs:
    kafka_batches: list = field(default_factory=list)  # [[bytes]]
    kafka_events: list = field(default_factory=list)  # decodable events, all batches
    poison_rows: int = 0
    kinesis_batches: list = field(default_factory=list)  # [[hex str]]
    kinesis_events: list = field(default_factory=list)
    flat_rows: list = field(default_factory=list)
    nested_rows: list = field(default_factory=list)
    udf_events: dict = field(default_factory=dict)  # kind -> [(event, expected)]
    udf_mix: list = field(default_factory=list)  # one cycle: [(kind, pool index)]

    def digest(self) -> str:
        h = hashlib.sha256()
        for batch in self.kafka_batches:
            for b in batch:
                h.update(len(b).to_bytes(4, "little") + b)
        for batch in self.kinesis_batches:
            for c in batch:
                h.update(c.encode())
        h.update(json.dumps(self.flat_rows, sort_keys=True).encode())
        h.update(json.dumps(self.nested_rows, sort_keys=True).encode())
        h.update(json.dumps([self.udf_events, self.udf_mix], sort_keys=True).encode())
        return h.hexdigest()


def make_inputs(seed: int, poisoned: bool) -> Inputs:
    rng = random.Random(seed)
    inp = Inputs()
    eid = 0
    for b in range(KAFKA_BATCHES):
        batch = []
        for _ in range(KAFKA_ROWS_PER_BATCH):
            e = _event(rng, eid)
            eid += 1
            inp.kafka_events.append(e)
            batch.append(encode_event(e))
        if poisoned and b in POISON_BATCHES:
            for k in range(POISON_PER_BATCH):
                pos = rng.randrange(len(batch) + 1)
                batch.insert(pos, _poison(_event(rng, -1), k))
                inp.poison_rows += 1
        inp.kafka_batches.append(batch)

    headers = {"contentType": SPRING_CONTENT_TYPE}
    for b in range(KINESIS_BATCHES):
        cells = []
        for c in range(KINESIS_CELLS_PER_BATCH):
            datas = []
            for _ in range(KINESIS_RECORDS_PER_CELL):
                e = _event(rng, eid)
                eid += 1
                inp.kinesis_events.append(e)
                datas.append(spring_message(headers, encode_event(e)))
            cells.append(kpl_aggregate(f"pk{b}-{c}", datas).hex())
        inp.kinesis_batches.append(cells)

    for i in range(FLAT_ROWS):
        inp.flat_rows.append(_event(rng, eid))
        eid += 1
    inp.nested_rows = [_nested_row(rng, i) for i in range(NESTED_ROWS)]

    pool = {}
    pool["registry"] = []
    for _ in range(UDF_POOL):
        evs = [_event(rng, (eid := eid + 1)) for _ in range(UDF_REGISTRY_ROWS)]
        event = {
            "request_id": f"r{eid}",
            "num_records": len(evs),
            "arguments": [[REGISTRY_STREAM, encode_event(e).hex()] for e in evs],
        }
        pool["registry"].append((event, [json.dumps(event_json(e)) for e in evs]))
    pool["container"] = []
    for _ in range(UDF_POOL):
        cells, expected = [], []
        for _ in range(UDF_CONTAINER_CELLS):
            evs = [_event(rng, (eid := eid + 1)) for _ in range(UDF_CONTAINER_RECORDS)]
            sync = bytes(rng.randrange(256) for _ in range(16))
            cells.append([container_file(EVENT_SCHEMA, [encode_event(e) for e in evs], sync).hex()])
            expected.append(json.dumps([event_json(e) for e in evs]))
        event = {"request_id": f"c{eid}", "num_records": len(cells), "arguments": cells}
        pool["container"].append((event, expected))
    pool["spring_kpl"] = []
    for _ in range(UDF_POOL):
        cells, expected = [], []
        for c in range(UDF_KPL_CELLS):
            evs = [_event(rng, (eid := eid + 1)) for _ in range(UDF_KPL_RECORDS)]
            datas = [spring_message(headers, encode_event(e)) for e in evs]
            cells.append([kpl_aggregate(f"u{c}", datas).hex()])
            expected.append(json.dumps([event_json(e) for e in evs]))
        event = {"request_id": f"k{eid}", "num_records": len(cells), "arguments": cells}
        pool["spring_kpl"].append((event, expected))
    inp.udf_events = pool
    inp.udf_mix = [(kind, i % UDF_POOL) for kind, n in UDF_MIX for i in range(n)]
    rng.shuffle(inp.udf_mix)
    return inp


def land_stream_backlog(inp: Inputs, root: str) -> dict:
    """Write the kafka and kinesis backlogs as one parquet file per
    micro-batch (the file-stream replay source). Returns name → directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dirs = {n: os.path.join(root, n) for n in ("kafka", "kinesis")}
    for d in dirs.values():
        os.makedirs(d)
    offset = 0
    for i, batch in enumerate(inp.kafka_batches):
        tbl = pa.table(
            {
                "offset": pa.array(range(offset, offset + len(batch)), pa.int64()),
                "payload": pa.array(batch, pa.binary()),
            }
        )
        pq.write_table(tbl, os.path.join(dirs["kafka"], f"part-{i:04d}.parquet"))
        offset += len(batch)
    for i, cells in enumerate(inp.kinesis_batches):
        tbl = pa.table({"hexcell": pa.array(cells, pa.string())})
        pq.write_table(tbl, os.path.join(dirs["kinesis"], f"part-{i:04d}.parquet"))
    return dirs

