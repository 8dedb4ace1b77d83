"""Closed-loop tile reader load against ``sparktiles.serve``.

A seeded viewer mix, sent from one client in the calling process. The
client opens views one after another: a view at zoom z fetches the tiles
of a VIEW_W x VIEW_H window at a random position (x wraps; the window
stays inside the world in y). Views visit the zooms 0..maxzoom in turn,
so every seed requests the same number of tiles per zoom: a zoom's share
of the GETs is its tiles per view, 1 at z0, 4 at z1, VIEW_W * VIEW_H
from z2 on. Uniform zooms and the window size are an assumption, not
measured traffic. Mixed in: about 10% ``If-None-Match`` revalidations of
a tile fetched before, and about 2% requests above the store's max zoom.
The next GET is sent only after the previous reply arrived.
"""

from __future__ import annotations

import hashlib
import http.client
import random
import time

REVALIDATE_SHARE = 0.10
OUT_OF_RANGE_SHARE = 0.02
# a 1024 x 768 screen of 256-px tiles
VIEW_W, VIEW_H = 4, 3


def view(rng: random.Random, z: int) -> list[tuple[int, int, int]]:
    """The distinct tiles of one view at zoom ``z``, in fetch order."""
    side = 1 << z
    x0, y0 = rng.randrange(side), rng.randrange(max(side - VIEW_H, 0) + 1)
    tiles = {(z, (x0 + dx) % side, y0 + dy)
             for dx in range(VIEW_W) for dy in range(VIEW_H) if y0 + dy < side}
    return sorted(tiles, reverse=True)


def viewer_mix(seed: int, n: int, maxzoom: int) -> list[tuple]:
    """``n`` requests (z, x, y, revalidate)."""
    rng = random.Random(seed)
    plan: list[tuple] = []
    pending: list[tuple] = []
    fetched: list[tuple] = []
    views = 0
    for _ in range(n):
        r = rng.random()
        if r < OUT_OF_RANGE_SHARE:
            z = maxzoom + rng.randint(1, 3)
            plan.append((z, rng.randrange(1 << z), rng.randrange(1 << z), False))
        elif r < OUT_OF_RANGE_SHARE + REVALIDATE_SHARE and fetched:
            plan.append((*rng.choice(fetched), True))
        else:
            if not pending:
                pending = view(rng, views % (maxzoom + 1))
                views += 1
            tile = pending.pop()
            fetched.append(tile)
            plan.append((*tile, False))
    return plan


def run_load(port: int, seed: int, n: int, maxzoom: int) -> dict:
    """One closed loop of the viewer mix -> status counts, failed and
    attempted requests, per-answer latencies (ms) and the loop's wall (s).
    A reply counts as failed unless its status is the expected one and
    a 200 carries ``ETag == md5(body)``."""
    etags: dict[tuple, str] = {}
    out = {"200": 0, "204": 0, "304": 0, "failed": 0, "attempted": n, "latencies_ms": []}
    t_start = time.perf_counter()
    for z, x, y, reval in viewer_mix(seed, n, maxzoom):
        headers = {}
        if reval and (z, x, y) in etags:
            headers["If-None-Match"] = etags[(z, x, y)]
        expect = 204 if z > maxzoom else (304 if headers else 200)
        t0 = time.perf_counter()
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
            conn.request("GET", f"/tiles/{z}/{x}/{y}.pbf", headers=headers)
            resp = conn.getresponse()
            body = resp.read()
            etag = resp.getheader("ETag")
            conn.close()
        except OSError:
            out["failed"] += 1
            continue
        out["latencies_ms"].append((time.perf_counter() - t0) * 1e3)
        ok = resp.status == expect
        if ok and resp.status == 200:
            # the strong ETag is the md5 of exactly the bytes served
            ok = etag == f'"{hashlib.md5(body).hexdigest()}"'
            etags[(z, x, y)] = etag
        if ok:
            out[str(resp.status)] += 1
        else:
            out["failed"] += 1
    out["wall_s"] = time.perf_counter() - t_start
    return out
