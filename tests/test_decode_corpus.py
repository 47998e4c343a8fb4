"""The one decode path against the driver-side kernel, over an edge-case corpus.

For every body, `decode_normalize_requests` must produce exactly the
non-error rows that `payload.decode_request_row` and `command_row` give
when run on the driver, and a body the reference 4xxes must give no row.
"""

from __future__ import annotations

from hogflare_spark.operators.normalize import (
    command_row,
    decode_normalize_requests,
)
from hogflare_spark.sources.payload import decode_request_row

CORPUS = [
    # plain capture, no state ops
    '{"event":"pageview","distinct_id":"u1"}',
    # with properties
    '{"event":"ev","distinct_id":"u1","properties":{"k":5,"s":"x y"}}',
    # the person-fold gate shape: $set / $set_once / $unset
    '{"event":"ev","distinct_id":"7","properties":{"$set":{"k":5,"temp":5},'
    '"$set_once":{"first_k":5}}}',
    '{"event":"ev","distinct_id":"7","properties":{"$set":{"k":5},'
    '"$set_once":{"first_k":5},"$unset":["temp"]}}',
    # the group gate shape: $groups + $group_set
    '{"event":"ev","distinct_id":"9","properties":{"$groups":{"segment":"WEB"},'
    '"$group_set":{"segment":{"k":41}}}}',
    # $group_set type not present in $groups → no update rows
    '{"event":"ev","distinct_id":"9","properties":{"$groups":{"segment":"WEB"},'
    '"$group_set":{"org":{"k":1}}}}',
    # empty $group_set props object → skipped
    '{"event":"ev","distinct_id":"9","properties":{"$groups":{"segment":"WEB"},'
    '"$group_set":{"segment":{}}}}',
    # timestamp + api_key + context object
    '{"event":"ev","distinct_id":"u","timestamp":"2024-01-01T00:00:00Z",'
    '"api_key":"k1","context":{"lib":"web"}}',
    # unknown top-level field → extra stash
    '{"event":"ev","distinct_id":"u","custom":1}',
    # float and exponent values
    '{"event":"ev","distinct_id":"u","properties":{"f":12345678.5}}',
    '{"event":"ev","distinct_id":"u","properties":{"g":1e23}}',
    # non-ASCII text
    '{"event":"ev","distinct_id":"u","properties":{"s":"café"}}',
    # escape sequence
    '{"event":"ev","distinct_id":"u","properties":{"s":"a\\"b"}}',
    # duplicate keys (the last one wins)
    '{"event":"ev","distinct_id":"u","properties":{"a":1,"a":2}}',
    # $unset as a single string and as an object
    '{"event":"ev","distinct_id":"u","properties":{"$set":{"a":1},"$unset":"temp"}}',
    '{"event":"ev","distinct_id":"u","properties":{"$set":{"a":1},"$unset":{"temp":1}}}',
    # $groups with a non-string value (dropped at extraction)
    '{"event":"ev","distinct_id":"u","properties":{"$groups":{"segment":5}}}',
    # array payload (multi-item)
    '[{"event":"a","distinct_id":"u"},{"event":"b","distinct_id":"u"}]',
    # data envelope
    '{"data":{"event":"a","distinct_id":"u"}}',
    # a compression key inside a plain item
    '{"event":"a","distinct_id":"u","compression":"gzip"}',
    # non-object properties
    '{"event":"a","distinct_id":"u","properties":5}',
    # permuted top-level key order
    '{"distinct_id":"u1","event":"pageview"}',
    '{"properties":{"k":1},"event":"ev","distinct_id":"u"}',
    # a trailing unknown key whose value makes the body end in "}}"
    '{"event":"e","distinct_id":"u","properties":{"a":1},"custom":{}}',
    # braces inside string values
    '{"event":"e","distinct_id":"u","properties":{"s":"a{b}c}"}}',
    # $unset before $set
    '{"event":"e","distinct_id":"u","properties":{"$unset":["a"],"$set":{"x":1}}}',
]

# bodies the reference 4xxes: they must give no row
REJECTED = [
    # non-string distinct_id
    '{"event":"ev","distinct_id":5}',
    # malformed JSON
    '{"event":"a","distinct_id":',
]


def _raw_frame(spark, endpoint_bodies):
    return spark.createDataFrame(
        [(i, endpoint, body) for i, (endpoint, body) in enumerate(endpoint_bodies)],
        "request_seq long, endpoint string, body string",
    )


def _driver_rows(endpoint_bodies):
    """The rows the kernel gives when run on the driver: decode failures
    and error rows dropped, the `error` column removed."""
    out = []
    for seq, (endpoint, body) in enumerate(endpoint_bodies):
        try:
            items, env_api, env_sent = decode_request_row(endpoint, body.encode(), None, None)
        except Exception:  # noqa: BLE001 — a 4xx: no row
            continue
        for idx, item in enumerate(items):
            try:
                row = command_row(
                    endpoint, item, seq, idx,
                    envelope_api_key=env_api, envelope_sent_at=env_sent,
                )
            except Exception:  # noqa: BLE001 — an error row: filtered out
                continue
            row.pop("error")
            out.append(row)
    return sorted(out, key=lambda r: (r["request_seq"], r["item_index"]))


def _engine_rows(spark, endpoint_bodies):
    df = decode_normalize_requests(_raw_frame(spark, endpoint_bodies))
    rows = [r.asDict() for r in df.collect()]
    return sorted(rows, key=lambda r: (r["request_seq"], r["item_index"]))


def test_corpus_matches_driver_kernel(spark):
    bodies = [("capture", b) for b in CORPUS + REJECTED]
    want = _driver_rows(bodies)
    assert {r["request_seq"] for r in want} == set(range(len(CORPUS)))
    assert _engine_rows(spark, bodies) == want


def test_rejected_bodies_give_no_row(spark):
    assert _engine_rows(spark, [("capture", b) for b in REJECTED]) == []


def test_non_capture_endpoints_match_driver_kernel(spark):
    bodies = [
        ("identify", '{"distinct_id":"u","properties":{"name":"n"}}'),
        ("groups", '{"group_type":"t","group_key":"k","properties":{"a":1}}'),
        ("batch", '{"batch":[{"event":"a","distinct_id":"u"},'
                  '{"type":"alias","distinct_id":"u","alias":"v"}]}'),
    ]
    want = _driver_rows(bodies)
    assert len(want) == 4
    assert _engine_rows(spark, bodies) == want
