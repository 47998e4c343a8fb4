"""Wire-format decoding: every PostHog SDK payload shape → item rows.

Behavioral parity targets (all in /root/reference/src/extractors.rs):

- content-encoding decode: gzip / deflate / zlib / identity bodies
  (extractors.rs:288-303, 706-722)
- embedded ``data`` strings (extractors.rs:593-631): base64-decode with
  raw-bytes fallback; declared ``gzip`` → gzip, declared ``gzip-js`` /
  ``zlib`` / ``deflate`` → zlib, any other declared value → error; with no
  declaration parse as JSON and, on failure, sniff zlib then gzip; the
  decoded value must be a JSON object or array
- JSON payloads (extractors.rs:508-540): array → items; object → pop
  ``compression``/``compression_method``, and if a ``data`` key exists
  decode it (object ⇒ 1 item, array ⇒ n items) with the remaining fields
  as shared defaults, else the object itself is the single item
- form payloads (extractors.rs:457-481): ``data=<base64 json>&...``;
  ``compression``/``compression_method`` fields select the codec; all other
  form fields are shared defaults
- shared-field defaulting (extractors.rs:683-704): shared fields land on
  each item only where the item doesn't already have the key
- batch envelope (extractors.rs:429-455, 483-506, 642-681): top-level JSON
  object (or form) with optional embedded ``data``; ``apply_batch_data``
  normalizes object-``data`` (with or without a ``batch`` key, single
  object → 1-array) and lifts leftover fields into the envelope; envelope
  fields are NOT merged into items here (api_key injection happens at
  dispatch, sent_at at event build — src/lib.rs:758-760, 1447-1592)

Decoding is inherently procedural (try-parse cascades over compressed
bytes), so it runs as an Arrow-batched pandas UDF at the ingestion edge —
the one place SURVEY.md §7 sanctions Python. Everything downstream of the
decoded item rows is pure Spark expressions.
"""

from __future__ import annotations

import base64
import binascii
import gzip
import json

from hogflare_spark.functions.fastjson import loads as fj_loads
import urllib.parse
import zlib

# ---------------------------------------------------------------------------
# pure-Python decode core (unit-testable against the reference matrix)
# ---------------------------------------------------------------------------


def _gunzip(data: bytes) -> bytes:
    return gzip.decompress(data)


def _unzlib(data: bytes) -> bytes:
    return zlib.decompress(data)


def decode_content_encoding(body: bytes, content_encoding: str | None) -> bytes:
    """gzip / deflate / zlib / identity request bodies (extractors.rs:288-303)."""
    enc = (content_encoding or "").strip().lower()
    if enc in ("gzip", "x-gzip"):
        return _gunzip(body)
    if enc in ("deflate", "zlib"):
        return _unzlib(body)
    return body


def _require_container(value):
    if not isinstance(value, (dict, list)):
        raise ValueError("expected JSON object or array inside data field")
    return value


def decode_data_string(data: str, compression: str | None):
    """Decode an embedded ``data`` string (extractors.rs:593-631)."""
    try:
        decoded = base64.b64decode(data, validate=False)
    except (binascii.Error, ValueError):
        decoded = data.encode("utf-8")

    comp = (compression or "").strip().lower() or None
    if comp == "gzip":
        raw = _gunzip(decoded)
    elif comp in ("gzip-js", "zlib", "deflate"):
        raw = _unzlib(decoded)
    elif comp is not None:
        raise ValueError(f"unsupported compression {comp!r}")
    else:
        raw = decoded

    try:
        return _require_container(fj_loads(raw))
    except (UnicodeDecodeError, json.JSONDecodeError):
        if comp is None:
            # undeclared compression sniffing: zlib then gzip
            for fn in (_unzlib, _gunzip):
                try:
                    return _require_container(fj_loads(fn(decoded)))
                except (OSError, zlib.error, gzip.BadGzipFile, UnicodeDecodeError,
                        json.JSONDecodeError, EOFError):
                    continue
        raise ValueError("unparseable data payload") from None


def decode_data_content(data, compression: str | None):
    """``data`` may already be a JSON object/array, or an encoded string
    (extractors.rs:578-592)."""
    if isinstance(data, (dict, list)):
        return data
    if isinstance(data, str):
        return decode_data_string(data, compression)
    raise ValueError("expected JSON object or array inside data field")


def _data_items(data, compression: str | None) -> list:
    content = decode_data_content(data, compression)
    return content if isinstance(content, list) else [content]


def merge_shared_fields(item: dict, shared: dict) -> dict:
    """Shared fields land on each item only where absent (extractors.rs:692-704).

    Unknown keys flowing into items are intentional: the reference's request
    structs capture them in `extra` via serde(flatten) (src/models.rs:19-21).
    """
    if not isinstance(item, dict):
        raise ValueError("expected JSON object inside data field")
    out = dict(item)
    for k, v in shared.items():
        out.setdefault(k, v)
    return out


def _parse_form_pairs(body: bytes) -> tuple[object, str | None, dict]:
    fields = urllib.parse.parse_qsl(body.decode("utf-8"), keep_blank_values=True)
    shared: dict = {}
    data = None
    compression = None
    for key, value in fields:
        if key == "data":
            data = value
        elif key in ("compression", "compression_method"):
            compression = value
        else:
            shared[key] = value
    if data is None:
        raise ValueError("form payload missing data field")
    return data, compression, shared


def _is_form(body: bytes, content_type: str | None) -> bool:
    ctype = (content_type or "").split(";")[0].strip().lower()
    return ctype == "application/x-www-form-urlencoded" or body.startswith(b"data=")


def parse_payload(
    body: bytes,
    content_type: str | None = None,
    content_encoding: str | None = None,
) -> list[dict]:
    """Non-batch endpoints: body → list of item dicts with shared fields
    merged (extractors.rs:401-540)."""
    raw = decode_content_encoding(body, content_encoding)

    if _is_form(raw, content_type):
        data, compression, shared = _parse_form_pairs(raw)
        items = _data_items(data, compression)
        return [merge_shared_fields(i, shared) for i in items]

    payload = fj_loads(raw)
    if isinstance(payload, list):
        return [merge_shared_fields(i, {}) for i in payload]
    if isinstance(payload, dict):
        compression = payload.pop("compression", None)
        if compression is None:
            compression = payload.pop("compression_method", None)
        else:
            payload.pop("compression_method", None)
        if "data" in payload:
            data = payload.pop("data")
            items = _data_items(data, compression if isinstance(compression, str) else None)
            return [merge_shared_fields(i, payload) for i in items]
        return [payload]
    raise ValueError("expected object or array JSON payload")


def parse_batch_body(
    body: bytes,
    content_type: str | None = None,
    content_encoding: str | None = None,
) -> tuple[list[dict], dict]:
    """Batch endpoint: body → (items, envelope) (extractors.rs:429-506,642-681).

    The envelope carries api_key / sent_at / any custom fields; they are
    NOT merged into items (dispatch-time concern, src/lib.rs:758-760).
    """
    raw = decode_content_encoding(body, content_encoding)

    if _is_form(raw, content_type):
        data, compression, envelope = _parse_form_pairs(raw)
        content = decode_data_content(data, compression)
    else:
        payload = fj_loads(raw)
        if not isinstance(payload, dict):
            raise ValueError("expected JSON object payload for batch endpoint")
        compression = payload.pop("compression", None)
        if compression is None:
            compression = payload.pop("compression_method", None)
        else:
            payload.pop("compression_method", None)
        envelope = payload
        if "data" in payload:
            data = payload.pop("data")
            content = decode_data_content(
                data, compression if isinstance(compression, str) else None
            )
        else:
            # no `data`: the object itself is the BatchRequest; `batch` must
            # already be an array (src/models.rs:55-64, no normalization)
            batch_value = payload.get("batch")
            if not isinstance(batch_value, list):
                raise ValueError("expected JSON array batch field")
            content = None

    # apply_batch_data normalization — only for `data`-delivered content
    # (extractors.rs:642-671)
    if content is None:
        batch = envelope.get("batch", [])
    elif isinstance(content, list):
        batch = content
    elif isinstance(content, dict):
        obj = dict(content)
        if "batch" in obj:
            batch_value = obj.pop("batch")
            if isinstance(batch_value, list):
                batch = batch_value
            elif isinstance(batch_value, dict):
                batch = [batch_value]
            else:
                raise ValueError("expected JSON array inside batch data")
        else:
            batch = [dict(obj)]
        for k, v in obj.items():
            envelope.setdefault(k, v)
    else:
        raise ValueError("expected JSON object or array inside data field")

    envelope = {k: v for k, v in envelope.items() if k not in ("batch", "data")}
    items = [i for i in batch if isinstance(i, dict)]
    if len(items) != len(batch):
        raise ValueError("expected JSON objects inside batch")
    return items, envelope


# ---------------------------------------------------------------------------
# Spark wrapper: raw request rows → exploded item rows
# ---------------------------------------------------------------------------


def decode_request_row(
    endpoint: str,
    raw_bytes: bytes,
    content_type: str | None,
    content_encoding: str | None,
) -> tuple[list, str | None, str | None]:
    """One raw request → (items, envelope_api_key, envelope_sent_at).

    Raises on malformed payloads (callers drop the row — the reference
    returns 4xx for them and they never reach the pipeline).
    """
    env_api = env_sent = None
    if endpoint == "batch":
        items, envelope = parse_batch_body(raw_bytes, content_type, content_encoding)
        api, sent = envelope.get("api_key"), envelope.get("sent_at")
        env_api = api if isinstance(api, str) else None
        env_sent = sent if isinstance(sent, str) else None
    elif endpoint == "s":
        # session chunks are raw JSON — no form/envelope unwrapping
        # (lib.rs:1149-1189 parses the body directly; the whole payload
        # becomes properties)
        payload = json.loads(
            decode_content_encoding(raw_bytes, content_encoding).decode("utf-8")
        )
        if not isinstance(payload, dict):
            raise ValueError("expected JSON object session payload")
        items = [payload]
    else:
        items = parse_payload(raw_bytes, content_type, content_encoding)
    return items, env_api, env_sent
