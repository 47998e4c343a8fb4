"""Seeded traffic generator for the benchmark workloads.

Everything here is pure Python and driven by one `random.Random(seed)` per
call, so the same seed yields byte-identical rows (gzip bodies are written
with mtime=0). The mixes come from `mix.json` beside this file; the
property vocabulary below is synthetic.

A raw request row mirrors what an HTTP receiver lands for the engine:
(request_seq, endpoint, body bytes, content_type, content_encoding,
header_api_key, sig_posthog) plus `planted`, the generator's own record of
which rows are deliberately bad ("malformed", "bad_signature",
"missing_distinct_id") and must be refused. `planted` is never shown to
the engine.
"""

from __future__ import annotations

import base64
import bisect
import gzip
import hashlib
import hmac
import json
import os
import random
import urllib.parse
import zlib
from datetime import datetime, timedelta, timezone
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))

EVENT_NAMES = ("$pageview", "button_clicked", "signup_started", "checkout", "$autocapture")
CITIES = ("Berlin", "Austin", "Lagos", "Osaka", "Lima", "Zürich", "São Paulo", "Kraków")
PLANS = ("free", "pro", "team", "enterprise")
USER_AGENTS = (
    "Mozilla/5 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605 (KHTML, like Gecko) Safari/605",
    "Mozilla/5 (Windows NT 10; Win64; x64) AppleWebKit/537 (KHTML, like Gecko) Chrome/120 Safari/537",
    "Mozilla/5 (Linux; Android 14; Pixel 8) AppleWebKit/537 (KHTML, like Gecko) Chrome/121 Mobile",
)
_T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)


class RawRow(NamedTuple):
    request_seq: int
    endpoint: str
    body: bytes
    content_type: str | None
    content_encoding: str | None
    header_api_key: str | None
    sig_posthog: str | None
    planted: str | None


def load_mix() -> dict:
    with open(os.path.join(HERE, "mix.json")) as fh:
        return json.load(fh)


class Zipf:
    """Rank sampler with P(rank k) proportional to 1 / k**s, k = 1..n."""

    def __init__(self, n: int, s: float):
        acc, cum = 0.0, []
        for k in range(1, n + 1):
            acc += 1.0 / k**s
            cum.append(acc)
        self._cum = cum
        self._total = acc

    def sample(self, rng: random.Random) -> int:
        return bisect.bisect_left(self._cum, rng.random() * self._total)


def _dumps(obj) -> bytes:
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False).encode("utf-8")


def _sign(secret: str, body: bytes) -> str:
    return "sha256=" + hmac.new(secret.encode(), body, hashlib.sha256).hexdigest()


def _pick_shape(rng: random.Random, wl: dict) -> str:
    """An identity op (identify, alias, groupidentify) at its share of the
    workload's requests, else one of its wire shapes, drawn uniformly."""
    r = rng.random()
    for op in ("identify", "alias", "groupidentify"):
        r -= wl.get(f"{op}_share", 0.0)
        if r < 0:
            return op
    return rng.choice(wl["wire_shapes"])


def _iso(i: int) -> str:
    return (_T0 + timedelta(seconds=i)).isoformat().replace("+00:00", "Z")


class _Traffic:
    """Shared state of one generated log: the rng, the id populations and
    the running request_seq."""

    def __init__(self, seed: int, mix: dict, wl: dict, seq0: int):
        self.rng = random.Random(seed)
        self.mix = mix
        self.wl = wl
        self.seq = seq0
        self.users = Zipf(wl["users"], wl.get("zipf_exponent", 1.0))
        self.companies = Zipf(wl["companies"], 1.0)
        self.rows: list[RawRow] = []

    def user(self) -> str:
        return f"user-{self.users.sample(self.rng)}"

    def anon(self) -> str:
        return f"anon-{self.users.sample(self.rng)}"

    def groups(self) -> dict:
        return {"company": f"co-{self.companies.sample(self.rng)}"}

    def event_item(self, distinct_id: str) -> dict:
        rng, wl = self.rng, self.wl
        # the property bag an SDK attaches to every event
        page = rng.randrange(300)
        props: dict = {
            "$current_url": f"https://app.example.com/p/{page}",
            "$pathname": f"/p/{page}",
            "$host": "app.example.com",
            "$referrer": rng.choice(("$direct", "https://www.google.com/", "https://news.example.org/")),
            "$lib": rng.choice(("web", "posthog-python", "posthog-node")),
            "$os": rng.choice(("Mac OS X", "Windows", "Android", "iOS", "Linux")),
            "$browser": rng.choice(("Chrome", "Firefox", "Safari", "Edge")),
            "$browser_version": rng.randrange(90, 130),
            "$device_type": rng.choice(("Desktop", "Mobile", "Tablet")),
            "$screen_height": rng.choice((768, 900, 1080, 1440)),
            "$screen_width": rng.choice((1366, 1440, 1920, 2560)),
            "$session_id": f"sess-{rng.getrandbits(48)}",
            "$window_id": f"win-{rng.getrandbits(32)}",
            "$insert_id": f"ins-{rng.getrandbits(64)}",
            "$raw_user_agent": rng.choice(USER_AGENTS),
            "$timezone": rng.choice(("Europe/Berlin", "America/Chicago", "Asia/Tokyo")),
            "utm_source": rng.choice(("newsletter", "google", "partner", "direct")),
            "utm_medium": rng.choice(("email", "cpc", "referral", "none")),
            "utm_campaign": f"campaign-{rng.randrange(40)}",
            "clicks": rng.randrange(50),
            "city": rng.choice(CITIES),
        }
        if rng.random() < wl.get("groups_share", 0.0):
            props["$groups"] = self.groups()
        # SDKs stamp every event with its client time
        return {"event": rng.choice(EVENT_NAMES), "distinct_id": distinct_id,
                "properties": props, "timestamp": _iso(self.seq)}

    def add(self, endpoint, body, content_type="application/json", encoding=None, planted=None):
        secret = self.mix["signing_secret"]
        sig = (
            "sha256=" + "%064x" % self.rng.getrandbits(256)
            if planted == "bad_signature"
            else _sign(secret, body)
        )
        self.rows.append(
            RawRow(self.seq, endpoint, body, content_type, encoding, None, sig, planted)
        )
        self.seq += 1

    # ---- wire shapes ------------------------------------------------------

    def capture_json(self):
        item = self.event_item(self.user())
        item["api_key"] = self.mix["api_key"]
        self.add("capture", _dumps(item))

    def batch_envelope(self):
        lo, hi = self.wl["batch_items"]
        items = [self.event_item(self.user()) for _ in range(self.rng.randint(lo, hi))]
        body = {"api_key": self.mix["api_key"], "batch": items, "sent_at": _iso(self.seq)}
        self.add("batch", _dumps(body))

    def capture_gzip(self):
        item = self.event_item(self.user())
        item["api_key"] = self.mix["api_key"]
        self.add("capture", gzip.compress(_dumps(item), mtime=0), encoding="gzip")

    def capture_zlib(self):
        item = self.event_item(self.user())
        item["api_key"] = self.mix["api_key"]
        self.add("capture", zlib.compress(_dumps(item)), encoding="deflate")

    def form_base64(self):
        item = self.event_item(self.user())
        item["api_key"] = self.mix["api_key"]
        body = urllib.parse.urlencode({"data": base64.b64encode(_dumps(item)).decode()}).encode()
        self.add("capture", body, content_type="application/x-www-form-urlencoded")

    def browser_e(self):
        lo, hi = self.wl["browser_items"]
        items = []
        for _ in range(self.rng.randint(lo, hi)):
            item = self.event_item(self.user())
            did = item.pop("distinct_id")
            item["properties"]["distinct_id"] = did
            item["properties"]["token"] = self.mix["api_key"]
            items.append(item)
        data = base64.b64encode(zlib.compress(_dumps(items))).decode()
        body = urllib.parse.urlencode({"data": data, "compression": "gzip-js"}).encode()
        self.add("e", body, content_type="application/x-www-form-urlencoded")

    def profile(self) -> dict:
        """`profile_keys` seeded person attributes a $set carries."""
        rng = self.rng
        return {f"attr_{rng.randrange(40)}": rng.choice((rng.randrange(1000), rng.choice(PLANS)))
                for _ in range(self.wl.get("profile_keys", 0))}

    def identify(self, distinct_id=None, anon: str | bool | None = True):
        """`anon`: True draws a seeded anonymous id, None sends none, a
        string sends that id."""
        did = distinct_id or self.user()
        body = {
            "distinct_id": did,
            "api_key": self.mix["api_key"],
            "properties": {
                "$set": {"email": f"{did}@example.com", "plan": self.rng.choice(PLANS),
                         **self.profile()},
                "$set_once": {"signup_seq": self.seq},
            },
        }
        if anon is True:
            anon = self.anon()
        if anon is not None:
            body["$anon_distinct_id"] = anon
        self.add("identify", _dumps(body))

    def alias(self, distinct_id=None, other=None):
        body = {
            "distinct_id": distinct_id or self.user(),
            "alias": other or self.anon(),
            "api_key": self.mix["api_key"],
        }
        self.add("alias", _dumps(body))

    def engage(self, distinct_id=None):
        rng = self.rng
        body = {"distinct_id": distinct_id or self.user(), "api_key": self.mix["api_key"]}
        kind = rng.randrange(3)
        if kind == 0:
            body["$set"] = {"plan": rng.choice(PLANS), "seats": rng.randrange(100), **self.profile()}
        elif kind == 1:
            body["$set_once"] = {"first_plan": rng.choice(PLANS)}
        else:
            body["$unset"] = [rng.choice(("plan", "seats", "last_city"))]
        if rng.random() < self.wl.get("groups_share", 0.0):
            body["$groups"] = self.groups()
        self.add("engage", _dumps(body))

    def groupidentify(self):
        key = f"co-{self.companies.sample(self.rng)}"
        body = {
            "group_type": "company",
            "group_key": key,
            "api_key": self.mix["api_key"],
            "properties": {"name": key.upper(), "employees": self.rng.randrange(5000)},
        }
        self.add("groups", _dumps(body))

    # ---- planted bad rows -------------------------------------------------

    def planted(self, kind: str):
        if kind == "malformed":
            good = _dumps(self.event_item(self.user()))
            if self.rng.random() < 0.5:
                self.add("capture", good[: len(good) // 2], planted=kind)
            else:
                self.add("capture", b"\x1f\x8b" + good[:20], encoding="gzip", planted=kind)
        elif kind == "bad_signature":
            item = self.event_item(self.user())
            item["api_key"] = self.mix["api_key"]
            self.add("capture", _dumps(item), planted=kind)
        elif kind == "missing_distinct_id":
            item = self.event_item(self.user())
            del item["distinct_id"]
            self.add("capture", _dumps(item), planted=kind)
        else:
            raise ValueError(f"unknown planted kind {kind!r}")

    def plant_all(self, n_good: int, planted: dict[str, int]):
        """Emit n_good mix rows with the planted rows at seeded positions."""
        kinds = [k for k, n in planted.items() for _ in range(n)]
        slots = sorted(self.rng.sample(range(n_good + len(kinds)), len(kinds)))
        self.rng.shuffle(kinds)
        at = dict(zip(slots, kinds))
        for i in range(n_good + len(kinds)):
            if i in at:
                self.planted(at[i])
            else:
                getattr(self, _pick_shape(self.rng, self.wl))()


def capture_log(seed: int, n_requests: int, mix: dict | None = None, seq0: int = 0) -> list[RawRow]:
    """Capture-dominated request log over every SDK wire shape."""
    mix = mix or load_mix()
    wl = mix["capture_batch"]
    t = _Traffic(seed, mix, wl, seq0)
    n_planted = sum(wl["planted"].values())
    t.plant_all(max(0, n_requests - n_planted), wl["planted"])
    return t.rows


def stream_log(seed: int, n_requests: int, mix: dict | None = None, seq0: int = 0) -> list[RawRow]:
    """Plain-JSON capture traffic with a small alias/identify share for the
    stream landing directory (its request rows carry text bodies)."""
    mix = mix or load_mix()
    wl = mix["stream_ingest"]
    t = _Traffic(seed, mix, wl, seq0)
    for _ in range(n_requests):
        getattr(t, _pick_shape(t.rng, wl))()
    return t.rows


def stream_file_lines(rows: list[RawRow]) -> bytes:
    """One landing file: a JSON request row per line (the stream's
    RAW_STREAM_SCHEMA)."""
    return b"".join(
        _dumps({"request_seq": r.request_seq, "endpoint": r.endpoint, "body": r.body.decode()})
        + b"\n"
        for r in rows
    )


def _component_sizes(rng: random.Random, wl: dict, n_users: int) -> list[int]:
    """Heavy-tailed identity component sizes (Pareto), capped."""
    sizes, total = [], 0
    while total < n_users:
        size = min(int(rng.paretovariate(wl["component_size_pareto_alpha"])), wl["component_size_max"])
        sizes.append(size)
        total += size
    return sizes


def identity_logs(seed: int, mix: dict | None = None) -> tuple[list[RawRow], list[RawRow]]:
    """(prior log, measured log) for identity_merge.

    Users are grouped into heavy-tailed components; each op draws a user
    uniformly and works inside that user's component. The measured log is
    identify/alias ops that stitch each component's ids together (alias
    chains across prior and new ids), engage $set/$set_once/$unset with
    `profile_keys`-wide profiles, and groupidentify, in equal shares.
    """
    mix = mix or load_mix()
    wl = mix["identity_merge"]
    t = _Traffic(seed, mix, wl, 0)
    rng = t.rng
    comp_of: list[list[str]] = []  # user number → the ids of its component
    for size in _component_sizes(rng, wl, wl["users"]):
        comp = [f"user-{len(comp_of) + k}" for k in range(size)]
        comp_of.extend([comp] * size)

    def user_and_component():
        uid = rng.randrange(wl["users"])
        return f"user-{uid}", comp_of[uid]

    for _ in range(wl["prior_requests"]):
        did = user_and_component()[0]
        shape = rng.choice(wl["prior_ops"])
        if shape == "engage":
            t.engage(did)
        elif shape == "identify":
            t.identify(did, anon=None)
        else:
            t.groupidentify()
    prior = t.rows
    t.rows = []
    t.seq = 1_000_000
    n_planted = sum(wl["planted"].values())
    kinds = [k for k, n in wl["planted"].items() for _ in range(n)]
    plant_at = set(rng.sample(range(wl["requests"]), n_planted))
    for i in range(wl["requests"]):
        if i in plant_at:
            t.planted(kinds.pop())
            continue
        did, comp = user_and_component()
        shape = rng.choice(wl["ops"])
        if shape == "identify":
            t.identify(did, anon=rng.choice(comp))
        elif shape == "alias":
            t.alias(did, rng.choice(comp))
        elif shape == "engage":
            t.engage(did)
        else:
            t.groupidentify()
    return prior, t.rows


def flag_config(seed: int, n_flags: int) -> str:
    """Seeded flag config: plain rollouts, multivariate splits and
    property-filter conditions over the persons' $set keys."""
    rng = random.Random(seed ^ 0x5EED)
    flags = []
    for i in range(n_flags):
        kind = i % 3
        flag: dict = {"key": f"flag-{i}", "id": i + 1, "active": rng.random() > 0.1}
        if kind == 0:
            flag["rollout_percentage"] = rng.choice((10, 25, 50, 90))
        elif kind == 1:
            flag["type"] = "multivariate"
            flag["variants"] = [
                {"key": "control", "rollout_percentage": 50},
                {"key": "test", "rollout_percentage": 50, "payload": {"color": "blue"}},
            ]
            flag["rollout_percentage"] = rng.choice((50, 100))
        else:
            flag["conditions"] = [
                {
                    "properties": [
                        {"key": "plan", "value": rng.choice(PLANS), "operator": "exact"}
                    ],
                    "rollout_percentage": 100,
                },
                {
                    "properties": [
                        {"key": "seats", "value": rng.randrange(50, 150), "operator": "gt"}
                    ],
                    "rollout_percentage": rng.choice((30, 60)),
                },
            ]
            flag["payload"] = {"limit": rng.randrange(1, 10)}
        flags.append(flag)
    return json.dumps({"flags": flags})


def analytics_events(seed: int, n: int, users: int) -> dict[str, list]:
    """Columns of a test-lake `events` table (event_id, ts, user_id,
    event_type, value, props) in the shape the events-analytics plans read."""
    rng = random.Random(seed ^ 0xA11)
    zipf = Zipf(users, 1.0)
    types = ("view", "click", "signup", "purchase", "error")
    cols: dict[str, list] = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    ts = datetime(2024, 1, 1)
    for i in range(n):
        ts += timedelta(seconds=rng.randrange(1, 120))
        cols["event_id"].append(i)
        cols["ts"].append(ts)
        cols["user_id"].append(zipf.sample(rng))
        cols["event_type"].append(rng.choice(types))
        cols["value"].append(round(rng.random() * 100, 2))
        cols["props"].append(json.dumps({"k": rng.randrange(100)}))
    return cols


def digest(rows: list[RawRow]) -> str:
    """Content hash of a generated log (determinism checks)."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()
