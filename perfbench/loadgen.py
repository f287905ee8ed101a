"""HTTP load generator for the serving workloads: one process, at most
``conns`` connections, standard library only.

Usage: python3 perfbench/loadgen.py SPEC_JSON OUT_JSON

The spec gives the server port and two phases:

* ``open``: an open loop. Request i is due at start + i/rate whatever
  the server does; its latency is measured from that due time, so a
  stall is charged to every request queued behind it. The generator
  records how late it sent each request.
* ``closed``: ``conns`` clients, each sending its next request as soon
  as the previous one returns, until every query of the phase is done;
  completions over elapsed time give the saturation rate. A fixed count
  (rather than a fixed time) keeps the query mix the same from run to
  run.

Requests whose index is a multiple of ``sample_every`` keep their
ranked results so the caller can compare them with the oracle.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request


def _get(port: int, query: str, timeout_s: float) -> dict:
    url = (f"http://127.0.0.1:{port}/results?"
           + urllib.parse.urlencode({"query": query}))
    try:
        with urllib.request.urlopen(url, timeout=timeout_s) as r:
            return {"status": r.status, "body": json.load(r)}
    except urllib.error.HTTPError as e:
        return {"status": e.code, "body": None}
    except (OSError, ValueError) as e:
        return {"status": 0, "body": None, "error": repr(e)}


def _record(i: int, q: dict, due: float, sent: float, done: float,
            resp: dict, keep_results: bool) -> dict:
    body = resp["body"] or {}
    rec = {"i": i, "q": q["q"], "kind": q["kind"], "due": due, "sent": sent,
           "done": done, "status": resp["status"], "path": body.get("path"),
           "retrieval_time": body.get("retrieval_time"),
           "executed": body.get("executed_query")}
    if keep_results and resp["body"] is not None:
        rec["results"] = [[r["doc_id"], r["score"]] for r in body["results"]]
    return rec


def open_loop(port: int, queries: list[dict], rate: float, conns: int,
              sample_every: int, timeout_s: float, give_up_s: float
              ) -> list[dict]:
    n = len(queries)
    t0 = time.perf_counter() + 0.05
    lock = threading.Lock()
    nxt = [0]
    out: list[dict] = []

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= n:
                return
            due = t0 + i / rate
            now = time.perf_counter()
            if now < due:
                time.sleep(due - now)
            sent = time.perf_counter()
            if sent - t0 > give_up_s:
                resp = {"status": 0, "body": None, "error": "not sent"}
            else:
                resp = _get(port, queries[i]["q"], timeout_s)
            rec = _record(i, queries[i], due, sent, time.perf_counter(),
                          resp, i % sample_every == 0)
            with lock:
                out.append(rec)

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(out, key=lambda r: r["i"])


def closed_loop(port: int, queries: list[dict], conns: int,
                timeout_s: float) -> tuple[list[dict], float]:
    lock = threading.Lock()
    nxt = [0]
    out: list[dict] = []
    t0 = time.perf_counter()

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(queries):
                return
            q = queries[i]
            sent = time.perf_counter()
            resp = _get(port, q["q"], timeout_s)
            rec = _record(i, q, sent, sent, time.perf_counter(), resp, False)
            with lock:
                out.append(rec)

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(out, key=lambda r: r["i"]), t0


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    port, conns = spec["port"], spec["conns"]
    op = spec["open"]
    opened = open_loop(port, op["queries"], op["rate"], conns,
                       spec["sample_every"], spec["timeout_s"],
                       op["give_up_s"])
    cl = spec["closed"]
    closed, c0 = closed_loop(port, cl["queries"], conns, spec["timeout_s"])
    with open(sys.argv[2], "w") as f:
        json.dump({"open": opened, "closed": closed, "closed_start": c0}, f)


if __name__ == "__main__":
    main()
