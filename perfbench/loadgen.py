"""Open-loop HTTP traffic for the `live_loop` workload.

Runs in the benchmark's own process, separate from the JVM under test:
two loopback HTTP destinations that the engine delivers to, and a
seeded arrival schedule sent to the engine's ingress over at most
`connections` keep-alive connections. Creation (an event's due time) and
receipt at a destination are stamped on this process's one clock.
"""
import http.client
import http.server
import json
import queue
import random
import threading
import time

# RATE requests/s due at uniform random times (a Poisson process with its
# count fixed), plus a burst of BURST requests due at the same instant
# every BURST_EVERY seconds. Request sizes, write keys and dropped events
# are fixed multisets in seeded order, so every seed offers the same work.
RATE = 6.0
BURST, BURST_EVERY = 4, 2.0
DISABLED_SHARE = 0.02       # requests with the disabled key: expect 401
DROP_SHARE = 0.05           # events FIELDDELETE removes on the dest_a route
REFUSE_EVERY = 20           # dest_b answers 503 to every 20th new envelope
ROUTES = {"wk-web": ("dest_a", "dest_b"), "wk-app": ("dest_b",)}
EVENTS = ["page", "click", "view", "purchase", "signup"]


def schedule(seed, seconds):
    """[(due_offset_s, write_key, [event dicts])], sorted by due time."""
    rng = random.Random(seed)
    dues = [rng.uniform(0, seconds) for _ in range(int(RATE * seconds))]
    dues += [b * BURST_EVERY + BURST_EVERY / 2
             for b in range(int(seconds / BURST_EVERY)) for _ in range(BURST)]
    n = len(dues)
    sizes = [1 + i * 19 // max(1, n - 1) for i in range(n)]
    n_off, n_web = round(n * DISABLED_SHARE), round(n * 0.58)
    keys = ["wk-off"] * n_off + ["wk-web"] * n_web + ["wk-app"] * (n - n_off - n_web)
    rng.shuffle(sizes)
    rng.shuffle(keys)
    total = sum(sizes)
    drops = [True] * round(total * DROP_SHARE) + [False] * (total - round(total * DROP_SHARE))
    rng.shuffle(drops)
    out, k = [], 0
    for i, (due, wk, size) in enumerate(zip(sorted(dues), keys, sizes)):
        events = []
        for j in range(size):
            name = "drop-me" if drops[k] else rng.choice(EVENTS)
            k += 1
            user = min(int(rng.paretovariate(1.2)), 500)  # Zipf-like user ids
            events.append({"messageId": f"m{seed}-{i}-{j}", "userId": f"u{user}",
                           "event": name, "properties": f"plan={rng.choice('abc')}",
                           "originalTimestamp": "2024-01-01T00:00:00.000Z",
                           "sentAt": "2024-01-01T00:00:01.000Z"})
        out.append((due, wk, events))
    return out


def expected_dests(wk, event):
    dests = ROUTES.get(wk, ())
    if event == "drop-me":
        dests = tuple(d for d in dests if d != "dest_a")
    return dests


class Destinations:
    """Both destinations on one threaded keep-alive server: /dest_a and
    /dest_b. The first POST of every REFUSE_EVERY-th envelope dest_b sees
    is answered 503, so the engine's retry loop runs (which envelopes
    those are follows from the seeded schedule); every 200 records
    (dest, message_id) → receipt times.
    dest_a payloads are checked for the FIELDMAP rename (`action`
    present, `event` absent)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.receipts = {}          # (dest, mid) -> [t, ...] (200s only)
        self.seen_envelopes = set()
        self.posts = {"dest_a": 0, "dest_b": 0}
        self.refused = 0            # seeded 503s
        self.rename_violations = 0
        dest = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                code = dest.receive(self.path.strip("/"), body)
                self.send_response(code)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *a):
                pass

        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def url(self, dest):
        return f"http://127.0.0.1:{self.server.server_address[1]}/{dest}"

    def receive(self, dest, body):
        t = time.time()
        payload = json.loads(body)["payload"]
        mids = [e.get("message_id") for e in payload]
        with self.lock:
            self.posts[dest] = self.posts.get(dest, 0) + 1
            if dest == "dest_b" and mids[0] not in self.seen_envelopes:
                self.seen_envelopes.add(mids[0])
                if len(self.seen_envelopes) % REFUSE_EVERY == 0:
                    self.refused += 1
                    return 503
            for e, mid in zip(payload, mids):
                if dest == "dest_a" and ("event" in e or "action" not in e):
                    self.rename_violations += 1
                self.receipts.setdefault((dest, mid), []).append(t)
        return 200

    def close(self):
        self.server.shutdown()
        self.server.server_close()


def send(port, plan, t0, connections):
    """Send each planned request at t0 + due over `connections` workers.
    Returns [(due_abs, sent, answered, status)] in plan order."""
    results = [None] * len(plan)
    work = queue.Queue()

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        while True:
            item = work.get()
            if item is None:
                conn.close()
                return
            i, due, body = item
            sent = time.time()
            try:
                conn.request("POST", "/v1/batch", body, {"Content-Type": "application/json"})
                resp = conn.getresponse()
                resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
                status = 599
            results[i] = (due, sent, time.time(), status)

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(connections)]
    for th in threads:
        th.start()
    for i, (due, wk, events) in enumerate(plan):
        at = t0 + due
        delay = at - time.time()
        if delay > 0:
            time.sleep(delay)
        stamp = time.strftime("%Y-%m-%dT%H:%M:%S.000Z", time.gmtime(at))
        body = json.dumps({"writeKey": wk, "requestIP": "10.0.0.1", "receivedAt": stamp,
                           "batch": events})
        work.put((i, at, body))
    for _ in threads:
        work.put(None)
    for th in threads:
        th.join()
    return results
