"""Open-loop event generator for the ``stream_upsert`` workload.

Runs as its own process: ``python3 perfbench/gen.py --seed N --port P ...``.
POST ``i`` is due at ``start + i / posts_per_s`` whatever happened to
earlier POSTs; at most ``--connections`` POSTs are in flight.  Each POST
is timed from its due time, so a stall delays the POSTs queued behind it
and shows as lateness.  The gateway speaks HTTP/1.0 and closes every
connection, so each POST opens its own.

Prints one JSON object: per POST its due time, send time, ack time and
status.  Everything sent is a pure function of the seed and the schedule
(``make_posts``), so the parent recomputes the expected table from the
acked POST indices alone.
"""

from __future__ import annotations

import argparse
import http.client
import json
import random
import threading
import time
from datetime import datetime, timedelta, timezone

EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
#: Event time of POST 0; later POSTs are offset by their schedule slot, so
#: the windows a run fills do not depend on the wall clock.
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def make_posts(seed: int, n_posts: int, post_events: int, posts_per_s: float) -> list[list[dict]]:
    """The events of every POST.  Values are whole numbers so that sums
    are exact in any order."""
    rng = random.Random(seed)
    posts = []
    for i in range(n_posts):
        base = EPOCH + timedelta(seconds=i / posts_per_s)
        batch = []
        for j in range(post_events):
            ts = base + timedelta(microseconds=rng.randrange(int(1e6 / posts_per_s)))
            batch.append(
                {
                    "event_id": i * post_events + j,
                    "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    "user_id": rng.randrange(15000),
                    "event_type": rng.choice(EVENT_TYPES),
                    "value": float(rng.randrange(1000)),
                    "props": "{}",
                }
            )
        posts.append(batch)
    return posts


def run(args: argparse.Namespace) -> dict:
    n_posts = int(args.seconds * args.posts_per_s)
    bodies = [json.dumps(p).encode() for p in make_posts(
        args.seed, n_posts, args.post_events, args.posts_per_s)]
    start = args.start
    results: list[dict | None] = [None] * n_posts
    nxt = [0]
    lock = threading.Lock()

    def worker() -> None:
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= n_posts:
                return
            due = start + i / args.posts_per_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            sent = time.time()
            status, err = 0, ""
            try:
                conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=60)
                try:
                    conn.request("POST", "/topics/bench/events", body=bodies[i],
                                 headers={"Content-Type": "application/json"})
                    resp = conn.getresponse()
                    resp.read()
                    status = resp.status
                finally:
                    conn.close()
            except OSError as e:
                err = f"{type(e).__name__}: {e}"
            results[i] = {"i": i, "due": due, "sent": sent, "ack": time.time(),
                          "status": status, "error": err}

    threads = [threading.Thread(target=worker) for _ in range(args.connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"start": start, "posts": results}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--posts-per-s", type=float, required=True)
    ap.add_argument("--post-events", type=int, required=True)
    ap.add_argument("--connections", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch time POST 0 is due")
    print(json.dumps(run(ap.parse_args()), separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
