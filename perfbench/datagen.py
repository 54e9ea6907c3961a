"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:
the star-schema + events + documents + embeddings tables the registry
queries read (same schemas and value ranges as the repository's testdata,
``mcp_hubspot_spark.schemas.TESTDATA_SCHEMAS``), and the CRM tables the
``api.Engine`` tools read (``schemas.CRM_SCHEMAS``). Tables are written
with pyarrow, before any Spark session exists, so input generation never
counts as engine set-up. The same seed always gives byte-identical values.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts per unit of scale factor (the testdata's own ratios)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

# CRM table sizes for the api tools (fixed, independent of the scale factor)
CRM_ROWS = {
    "companies": 1_000,
    "contacts": 2_000,
    "tickets": 1_000,
    "engagements": 2_000,
    "threads": 500,
    "messages": 2_000,
    "emails": 1_000,
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH = datetime(1970, 1, 1)


def _us(d: datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, start: datetime, n_days: int, n: int) -> pa.Array:
    us = _us(start) + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_text(rng, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB, n_words))


def documents_table(rng, n: int) -> pa.Table:
    """Random-vocabulary documents; 5% are a copy of another document with
    ``dup`` appended (near-duplicates) and 0.2% exact copies, as in the
    testdata, so the dedup operators have real pairs to find."""
    texts = [doc_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    order = rng.permutation(n)
    n_near, n_exact = n // 20, max(1, n // 500)
    for i in order[:n_near]:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in order[n_near:n_near + n_exact]:
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_testdata(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten testdata tables for ``seed`` at scale factor ``sf``
    into ``out_dir`` (one ``<table>.parquet`` each). Returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(r * sf)) for t, r in ROWS_PER_SF.items()}
    n["embeddings"] = max(500, n["embeddings"])
    n["documents"] = max(500, n["documents"])
    users = max(10, int(15_000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
            ),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    adjs = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
    nouns = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": [
                f"{adjs[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p
            ),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, o),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
            ),
        }
    )
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 100000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, li),
        }
    )
    e = n["events"]
    gaps = rng.exponential(30 * _DAY_US / e, e).astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(_us(datetime(2024, 1, 1)) + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, e), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    tables["documents"] = documents_table(rng, n["documents"])
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, m), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


# ------------------------------------------------------------------ CRM


def _arrow_type(dt):
    """pyarrow type for a Spark DataType (the subset CRM_SCHEMAS uses)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return pa.struct([pa.field(f.name, _arrow_type(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    return {
        T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
    }[type(dt)]


def write_crm(out_dir: str, seed: int) -> dict:
    """Write the CRM tables the api tools read, sized by ``CRM_ROWS``,
    with ids as digit strings as in the reference. Returns row counts."""
    from mcp_hubspot_spark.schemas import CRM_SCHEMAS

    rng = np.random.default_rng([seed, 2])
    t0 = datetime(2024, 6, 1, tzinfo=timezone.utc)

    def ts(n):
        return [t0 - timedelta(seconds=int(x)) for x in rng.integers(0, 90 * 86_400, n)]

    pool = {k: [doc_text(rng, k) for _ in range(64)] for k in (3, 4, 5, 12, 15, 20, 25)}

    def words(k):
        return pool[k][int(rng.integers(0, 64))]

    def maybe(v, p=0.2):
        return None if rng.random() < p else v

    nc = CRM_ROWS["companies"]
    names = [f"Company {i}" for i in rng.integers(0, int(nc * 0.9), nc)]
    rows: dict[str, list[dict]] = {}
    mod = ts(nc)
    rows["companies"] = [
        {"id": str(1000 + i), "name": names[i], "domain": maybe(f"co{i}.com"),
         "website": maybe(f"https://co{i}.com"), "phone": maybe(f"+1555{i:07d}"),
         "industry": maybe(str(rng.choice(["tech", "mfg", "retail", "finance"]))),
         "hs_lastmodifieddate": mod[i], "archived": bool(rng.random() < 0.05)}
        for i in range(nc)
    ]
    np_ = CRM_ROWS["contacts"]
    first = ["Ada", "Alan", "Grace", "Linus", "Barbara", "Edsger", "Donald", "Frances"]
    last = ["Lovelace", "Turing", "Hopper", "Torvalds", "Liskov", "Dijkstra", "Knuth", "Allen"]
    m1, m2 = ts(np_), ts(np_)
    rows["contacts"] = [
        {"id": str(5000 + i), "firstname": str(rng.choice(first)),
         "lastname": str(rng.choice(last)), "email": maybe(f"p{i}@ex.com"),
         "phone": maybe(f"+1444{i:07d}"), "company": str(rng.choice(names)),
         "lastmodifieddate": m1[i], "hs_lastmodifieddate": m2[i],
         "archived": bool(rng.random() < 0.05)}
        for i in range(np_)
    ]
    nt = CRM_ROWS["tickets"]
    cr, cl, tm = ts(nt), ts(nt), ts(nt)
    rows["tickets"] = [
        {"id": str(20000 + i), "subject": words(4), "content": words(20),
         "hs_pipeline": "p0", "hs_pipeline_stage": str(rng.choice(["1", "2", "3", "4"])),
         "hs_ticket_status": str(rng.choice(["open", "closed", "pending"])),
         "status": str(rng.choice(["OPEN", "CLOSED"])),
         "hs_ticket_priority": str(rng.choice(["LOW", "MEDIUM", "HIGH"])),
         "createdate": cr[i], "closedate": maybe(cl[i], 0.5), "hs_lastmodifieddate": tm[i]}
        for i in range(nt)
    ]
    ne = CRM_ROWS["engagements"]
    et = ts(ne)
    kinds = ["NOTE", "EMAIL", "TASK", "MEETING", "CALL"]

    def meta(kind):
        md = dict.fromkeys(CRM_SCHEMAS["engagements"]["metadata"].dataType.fieldNames())
        md["body"] = words(12)
        if kind == "EMAIL":
            md.update(subject=words(3), text=maybe(words(15), 0.3), html="<p>hi</p>",
                      **{"from": {"raw": "r", "email": "a@x.com", "firstName": "A", "lastName": "X"}},
                      to=[{"raw": "r2", "email": "b@y.com", "firstName": "B", "lastName": "Y"}])
        elif kind == "CALL":
            md.update(fromNumber="1", toNumber="2", durationMilliseconds=int(rng.integers(1, 10**6)),
                      disposition="answered", status="done")
        elif kind == "TASK":
            md.update(subject=words(3), status="open", forObjectType="CONTACT")
        elif kind == "MEETING":
            md.update(title=words(3), startTime=et[0], endTime=et[1], internalMeetingNotes=words(5))
        return md

    ekind = rng.choice(kinds, ne)
    rows["engagements"] = [
        {"id": str(100000 + i), "type": str(ekind[i]), "created_at": et[i],
         "last_updated": et[i], "timestamp": et[i], "created_by": f"u{i % 17}",
         "modified_by": f"u{i % 13}", "metadata": meta(ekind[i])}
        for i in range(ne)
    ]
    nth = CRM_ROWS["threads"]
    tc, tl = ts(nth), ts(nth)
    rows["threads"] = [
        {"id": str(300000 + i), "createdAt": tc[i], "latestMessageTimestamp": tl[i],
         "status": str(rng.choice(["OPEN", "CLOSED"])), "inboxId": f"i{i % 5}",
         "associatedContactId": str(5000 + int(rng.integers(0, np_))),
         "assignedTo": maybe(f"u{i % 7}"), "spam": False, "archived": False}
        for i in range(nth)
    ]
    nm = CRM_ROWS["messages"]
    mc = ts(nm)

    def sender(i):
        actor = "0-1 agent" if rng.random() < 0.4 else "9-9 cust"
        return {"actorId": f"{actor}-{i % 11}", "name": f"Sender {i % 11}",
                "senderField": "FROM",
                "deliveryIdentifier": {"type": "HS_EMAIL_ADDRESS", "value": f"s{i % 11}@ex.com"}}

    rows["messages"] = [
        {"id": str(400000 + i), "thread_id": str(300000 + int(rng.integers(0, nth))),
         "type": "MESSAGE" if rng.random() < 0.9 else "COMMENT", "createdAt": mc[i],
         "updatedAt": mc[i], "subject": words(3), "text": words(25), "rich_text": words(25),
         "direction": "IN", "channel_id": "c1", "channel_account_id": "a1",
         "status": {"statusType": "SENT"}, "senders": [sender(i)],
         "recipients": [{"recipientField": "TO",
                         "deliveryIdentifier": {"type": "HS_EMAIL_ADDRESS", "value": f"r{i % 5}@ex.com"}}]}
        for i in range(nm)
    ]
    nem = CRM_ROWS["emails"]
    ec = ts(nem)
    rows["emails"] = [
        {"id": str(500000 + i), "subject": words(3), "hs_email_text": maybe(words(15), 0.3),
         "hs_email_html": "<p>x</p>", "hs_email_from": "a@x.com", "hs_email_to": "b@y.com",
         "hs_email_cc": None, "hs_email_bcc": None, "createdAt": ec[i], "updatedAt": ec[i],
         "archived": bool(rng.random() < 0.1)}
        for i in range(nem)
    ]
    assoc = [
        {"from_type": "companies", "from_id": str(1000 + int(rng.integers(0, nc))),
         "to_type": "engagements", "to_object_id": str(100000 + i)}
        for i in range(ne)
    ]
    for i in range(nt):
        for _ in range(int(rng.integers(0, 3))):
            assoc.append({"from_type": "tickets", "from_id": str(20000 + i),
                          "to_type": "conversation",
                          "to_object_id": str(300000 + int(rng.integers(0, nth)))})
    rows["associations"] = assoc
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, rs in rows.items():
        schema = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType)) for f in CRM_SCHEMAS[name].fields]
        )
        pq.write_table(pa.Table.from_pylist(rs, schema=schema),
                       os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(rs)
    return counts


def write_documents(out_dir: str, seed: int, n: int) -> list[str]:
    """Write only ``documents.parquet`` (``n`` rows) for ``seed``; returns
    the texts so callers can reason about what each doc id holds."""
    tbl = documents_table(np.random.default_rng([seed, 3]), n)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(tbl, os.path.join(out_dir, "documents.parquet"))
    return tbl.column("text").to_pylist()
