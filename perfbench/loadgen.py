"""Closed-loop HTTP load generator for the dashboard server.

Runs in its own process so its clients do not share an interpreter lock
with the server and the Spark driver.  Each client thread sends its next
request only after the previous one has been answered.  The server
speaks HTTP/1.0, which closes the connection after every response, so a
client opens one connection per request.

Usage::

    python3 loadgen.py SPEC.json OUT.json

``SPEC.json`` holds ``{"port": int, "seconds": float, "clients":
[[path, ...], ...]}``: one list of request paths per client, walked in
order until the time is up.  ``OUT.json`` receives one record per
request: client, path, start and latency in seconds, HTTP status (None
when the connection failed) and the figures read from the page.  Every
client sends at least its first request, even when ``seconds`` is 0.
"""

from __future__ import annotations

import http.client
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from welch import parse_page  # noqa: E402

# a request still unanswered after this long counts as a dropped connection
TIMEOUT_S = 120.0


def get(port: int, path: str) -> tuple[int, str]:
    """One GET; raises on a dropped connection or a missing status line."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read().decode("utf-8")
    finally:
        conn.close()


def summarize(path: str, status: int, body: str) -> dict:
    """What the checks need from a response, without the page itself."""
    if status == 200 and path.startswith("/dashboard"):
        return parse_page(body)
    if status == 200 and path == "/":
        return {"index_items": body.count("<li>")}
    return {}


def _client(port: int, paths: list[str], deadline: float, t0: float, out: list) -> None:
    for i, path in enumerate(paths):
        if i and time.perf_counter() >= deadline:
            return
        start = time.perf_counter()
        try:
            status, body = get(port, path)
            error = None
        except (OSError, http.client.HTTPException) as exc:
            status, body, error = None, "", f"{type(exc).__name__}: {exc}"
        latency = time.perf_counter() - start
        rec = {"i": i, "path": path, "start": start - t0, "latency": latency, "status": status}
        if error:
            rec["error"] = error
        else:
            rec.update(summarize(path, status, body))
        out.append(rec)


def closed_loop(port: int, clients: list[list[str]], seconds: float) -> list[dict]:
    t0 = time.perf_counter()
    deadline = t0 + seconds
    results: list[list[dict]] = [[] for _ in clients]
    threads = [
        threading.Thread(target=_client, args=(port, paths, deadline, t0, results[i]))
        for i, paths in enumerate(clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [dict(rec, client=i) for i, recs in enumerate(results) for rec in recs]


def main(argv: list[str]) -> int:
    spec_path, out_path = argv
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    records = closed_loop(spec["port"], spec["clients"], spec["seconds"])
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(records, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
