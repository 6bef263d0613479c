"""Seeded two-feed HFP line generator with planted truth.

Writes ``ts topic json`` lines in the hfp-5000.txt format (FIXTURES.md
A1): one vehicle-position message per vehicle per second, delivered
once by each of two redundant feeds.  Feed ``a`` arrives 50-300 ms
after the event; feed ``b`` arrives up to ``jitter_s`` after feed
``a``.  Lines are in arrival order and stamped with their arrival
time, so a live writer can treat that stamp as the line's due time.

The planted truth is the set of unique ``(topic, payload)`` pairs and
the message count per feed.  Every unique occurs exactly once per feed,
and no two vehicles or seconds share a payload, so a correct dedup
forwards exactly ``uniques`` rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
import sys
from dataclasses import dataclass, field

FEEDS = ("a", "b")
_ROUTES = ("1057", "2550", "4611", "1014", "7280", "9787", "3002", "1506")
_HEADSIGNS = ("Munkkiniemi", "Itäkeskus", "Kamppi", "Pasila", "Rautatientori")
_MODES = (("bus", 18), ("bus", 22), ("tram", 40), ("bus", 12))


@dataclass
class Feed:
    """Generated lines plus the planted truth.

    ``due`` is each line's arrival time in seconds after ``t0``;
    ``key_of`` maps each line to the index of its unique in ``keys``.
    ``ends`` is the byte offset one past each line's newline.
    """

    lines: list[bytes]
    due: list[float]
    key_of: list[int]
    keys: list[tuple[str, str]]
    per_feed: dict[str, int]
    ends: list[int] = field(init=False)

    def __post_init__(self) -> None:
        pos, self.ends = 0, []
        for ln in self.lines:
            pos += len(ln)
            self.ends.append(pos)

    @property
    def size(self) -> int:
        return self.ends[-1] if self.ends else 0

    def truth(self) -> dict:
        """The planted truth as JSON: counts and a digest of each unique."""
        return {
            "messages": len(self.lines),
            "uniques": len(self.keys),
            "per_feed": self.per_feed,
            "unique_sha1": [key_sha1(t, p) for t, p in self.keys],
        }


def key_sha1(topic: str, payload: str) -> str:
    return hashlib.sha1(f"{topic} {payload}".encode()).hexdigest()


class _Clock:
    """ISO-8601 formatting with the per-second prefix cached."""

    def __init__(self) -> None:
        self._sec: dict[int, str] = {}

    def _prefix(self, sec: int) -> str:
        p = self._sec.get(sec)
        if p is None:
            d = dt.datetime.fromtimestamp(sec, tz=dt.timezone.utc)
            p = self._sec[sec] = d.strftime("%Y-%m-%dT%H:%M:%S")
        return p

    def server(self, ts: float) -> str:
        sec = int(ts)
        return f"{self._prefix(sec)}.{int((ts - sec) * 1e6):06d}+0000"

    def vp(self, ts: float) -> str:
        sec = int(ts)
        return f"{self._prefix(sec)}.{int((ts - sec) * 1e3):03d}Z"


def _vehicles(rng: random.Random, n: int) -> list[dict]:
    out = []
    for v in range(n):
        mode, oper = _MODES[v % len(_MODES)]
        route = rng.choice(_ROUTES)
        out.append(
            {
                "mode": mode,
                "oper": oper,
                "veh": 100 + v,
                "route": route,
                "desi": route.lstrip("0")[:3],
                "dir": rng.choice(("1", "2")),
                "head": rng.choice(_HEADSIGNS),
                "start": f"{rng.randrange(5, 23):02d}:{rng.randrange(60):02d}",
                "jrn": rng.randrange(1, 9999),
                "line": rng.randrange(1, 999),
                "lat": 60.10 + rng.random() * 0.20,
                "long": 24.80 + rng.random() * 0.35,
                "odo": rng.randrange(0, 30000),
                "phase": rng.random(),
            }
        )
    return out


def generate(
    seed: int,
    vehicles: int,
    seconds: int,
    t0: float = 1539059572.0,
    jitter_s: float = 0.5,
) -> Feed:
    """``vehicles`` x ``seconds`` uniques, each delivered by both feeds."""
    rng = random.Random(seed)
    fleet = _vehicles(rng, vehicles)
    oday = dt.datetime.fromtimestamp(t0, tz=dt.timezone.utc).strftime("%Y-%m-%d")
    clock = _Clock()
    keys: list[tuple[str, str]] = []
    arrivals: list[tuple[float, int]] = []
    for v in fleet:
        v["topic"] = (
            f"/hfp/v1/journey/ongoing/{v['mode']}/{v['oper']:04d}/"
            f"{v['veh']:05d}/{v['route']}/{v['dir']}/{v['head']}/{v['start']}/"
        )
        v["head_json"] = (
            f'{{"VP":{{"desi":"{v["desi"]}","dir":"{v["dir"]}",'
            f'"oper":{v["oper"]},"veh":{v["veh"]},'
        )
        v["tail_json"] = (
            f'"oday":"{oday}","jrn":{v["jrn"]},"line":{v["line"]},'
            f'"start":"{v["start"]}"}}}}'
        )
    rand = rng.random
    for s in range(seconds):
        for v in fleet:
            event = s + v["phase"]
            ev_ts = t0 + event
            lat = v["lat"] = v["lat"] + (rand() - 0.5) * 4e-4
            lon = v["long"] = v["long"] + (rand() - 0.5) * 4e-4
            spd = round(rand() * 15, 2)
            v["odo"] += int(spd)
            topic = (
                f"{v['topic']}{1000000 + int(rand() * 1000)}/3/{lat:.2f};{lon:.2f}/"
                f"{int(lat * 1000) % 10}{int(lon * 1000) % 10}"
            )
            payload = (
                f'{v["head_json"]}"tst":"{clock.vp(ev_ts)}","tsi":{int(ev_ts)},'
                f'"spd":{spd},"hdg":{int(rand() * 360)},"lat":{lat:.6f},'
                f'"long":{lon:.6f},"acc":{(rand() - 0.5) * 3:.2f},'
                f'"dl":{int(rand() * 360) - 120},"odo":{v["odo"]},'
                f'"drst":{int(rand() * 2)},{v["tail_json"]}'
            )
            k = len(keys)
            keys.append((topic, payload))
            a = event + 0.05 + rand() * 0.25
            arrivals.append((a, k))
            arrivals.append((a + rand() * jitter_s, k))
    arrivals.sort()
    lines, due, key_of = [], [], []
    for a, k in arrivals:
        topic, payload = keys[k]
        lines.append(f"{clock.server(t0 + a)} {topic} {payload}\n".encode())
        due.append(a)
        key_of.append(k)
    per_feed = {f: len(keys) for f in FEEDS}
    return Feed(lines, due, key_of, keys, per_feed)


def write(feed: Feed, path: str) -> None:
    with open(path, "wb") as f:
        f.writelines(feed.lines)


def main(argv: list[str]) -> int:
    """``python3 perfbench/hfpgen.py SEED VEHICLES SECONDS OUT`` writes
    the feed to OUT and its planted truth to OUT.truth.json."""
    seed, vehicles, seconds, out = int(argv[0]), int(argv[1]), int(argv[2]), argv[3]
    feed = generate(seed, vehicles, seconds)
    write(feed, out)
    with open(out + ".truth.json", "w", encoding="utf-8") as f:
        json.dump(feed.truth(), f)
    return 0


def recount(path: str) -> dict:
    """Count a written file independently of the generator: parse each
    line by the A1 rule and tally the distinct ``(topic, payload)``
    pairs and how often each occurs."""
    seen: dict[tuple[str, str], int] = {}
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            sp, brace = line.find(" "), line.find("{")
            key = (line[sp + 1 : brace].strip(), line[brace:])
            seen[key] = seen.get(key, 0) + 1
            n += 1
    return {
        "messages": n,
        "uniques": len(seen),
        "copies": sorted(set(seen.values())),
        "unique_sha1": sorted(key_sha1(t, p) for t, p in seen),
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
