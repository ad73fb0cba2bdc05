"""Seeded input generator for the perfbench workloads.

Two producers share one document model:

* ``corpus``: the ``topo_batch`` input, a JSON-lines file of documents
  whose ids ascend in arrival order.
* ``feed``: the ``stream_live`` load generator. It runs as its own
  single-threaded process and writes JSON-lines files into a directory
  on a fixed open-loop schedule (one file per tick), whatever the
  consumer does.

Documents come from a Zipf vocabulary with stopwords at the top ranks,
plus shared boilerplate. Planted on top of the distinct documents:

* exact copies of an earlier document (same text, later id);
* near-duplicate edits of an earlier document (a few words replaced);
* Gopher-failing documents (too short, or mostly numeric tokens).

Every document carries its kind, so the harness can check the
topology's output against the planted ground truth. The same seed gives
byte-identical output and a different seed different output;
``selfcheck`` verifies both on a small corpus.

Usage:
    python3 gen.py corpus --seed N --docs N --out FILE
    python3 gen.py feed --seed N --dir DIR --phases SPEC --only NAMES \
        [--log FILE]
    python3 gen.py selfcheck
"""

import argparse
import bisect
import hashlib
import json
import os
import random
import sys
import time

STOPWORDS = ["the", "of", "and", "to", "with", "that", "have", "be"]
VOCAB_SIZE = 6000
ZIPF_S = 1.1
BOILERPLATE = 6
# Shares of planted documents among the documents after the first few.
P_COPY = 0.10
P_NEAR = 0.08
P_FAIL = 0.07
# A stream copy lands at most this long after its original (declared
# lateness in the stream topology is far larger).
COPY_WINDOW_MS = 4000
TICK_MS = 100
# The feeder's clock starts this long after its schedule is built.
LEAD_MS = 300


class DocModel:
    """Seeded document source: next_doc() returns (kind, text)."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        rng = self.rng
        letters = "abcdefghijklmnopqrstuvwxyz"
        words, seen = list(STOPWORDS), set(STOPWORDS)
        while len(words) < VOCAB_SIZE:
            w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(VOCAB_SIZE)]
        total = sum(weights)
        acc, cum = 0.0, []
        for w in weights:
            acc += w / total
            cum.append(acc)
        self.cum = cum
        self.boiler = [self._words(rng.randint(12, 20))
                       for _ in range(BOILERPLATE)]
        self.history = []  # texts of distinct documents, for planting

    def _word(self):
        i = bisect.bisect_left(self.cum, self.rng.random())
        return self.words[min(i, VOCAB_SIZE - 1)]

    def _words(self, n):
        return " ".join(self._word() for _ in range(n))

    def _distinct(self):
        rng = self.rng
        body = self._words(rng.randint(60, 260))
        # stopwords guarantee the Gopher stopword floor
        text = "the " + body + " and of to"
        if rng.random() < 0.4:
            text = text + " " + rng.choice(self.boiler)
        return text

    def _near(self, base):
        toks = base.split(" ")
        rng = self.rng
        for _ in range(max(1, len(toks) // 40)):
            toks[rng.randrange(len(toks))] = self._word()
        return " ".join(toks)

    def _failing(self):
        rng = self.rng
        if rng.random() < 0.5:
            return self._words(rng.randint(5, 40))
        nums = [str(rng.randint(0, 99999)) for _ in range(rng.randint(60, 120))]
        return " ".join(nums) + " the and of"

    def next_doc(self):
        """(kind, text); copies and near-dups plant on an earlier
        distinct document."""
        rng = self.rng
        r = rng.random()
        if len(self.history) >= 8:
            if r < P_COPY:
                return "copy", self.history[rng.randrange(len(self.history))]
            if r < P_COPY + P_NEAR:
                b = rng.randrange(len(self.history))
                return "near", self._near(self.history[b])
            if r < P_COPY + P_NEAR + P_FAIL:
                return "fail", self._failing()
        text = self._distinct()
        self.history.append(text)
        return "distinct", text


def corpus_lines(seed, n_docs):
    """JSON lines of the topo_batch corpus: doc ids ascend in order."""
    model = DocModel(seed)
    for i in range(n_docs):
        kind, text = model.next_doc()
        yield json.dumps({"doc_id": i, "ts": "2024-01-01T00:00:00.000Z",
                          "kind": kind, "text": text},
                         separators=(",", ":")) + "\n"


def write_corpus(seed, n_docs, out):
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        f.writelines(corpus_lines(seed, n_docs))
    os.replace(tmp, out)


def iso_ms(ms):
    t = time.gmtime(ms // 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", t) + ".%03dZ" % (ms % 1000)


def schedule(seed, t0_ms, phases):
    """The open-loop schedule: (sched_ms, doc_id, kind, text, phase,
    origin_id).

    Events of phase (name, rate, seconds) are due at fixed intervals of
    1000/rate ms. An exact copy is re-sent as a later event within
    COPY_WINDOW_MS of its original; both carry their due time as `ts`.
    `origin_id` is the original's id for a copy and the event's own id
    otherwise. Ids ascend with due time."""
    model = DocModel(seed)
    rng = random.Random(seed ^ 0x5EED)
    events, start = [], t0_ms
    for name, rate, secs in phases:
        n = int(round(rate * secs))
        step = 1000.0 / rate
        for k in range(n):
            due = start + int(k * step)
            kind, text = model.next_doc()
            orig = len(events)
            if kind == "copy":
                # re-send a recent original of this stream instead of an
                # arbitrary historical text, so the copy lands within
                # the declared lateness of its original
                recent = [i for i in range(max(0, len(events) - 64),
                                           len(events))
                          if events[i][1] == "distinct"]
                if recent:
                    orig = rng.choice(recent)
                    due = max(due, events[orig][0] + 1)
                    due = min(due, events[orig][0] + COPY_WINDOW_MS)
                    text = events[orig][2]
                else:
                    kind = "distinct"
            events.append((due, kind, text, name, orig))
        start += int(secs * 1000)
    order = sorted(range(len(events)), key=lambda i: events[i][0])
    ids = {old: new for new, old in enumerate(order)}
    return [(events[i][0], ids[i], events[i][1], events[i][2], events[i][3],
             ids[events[i][4]]) for i in order]


def feed(seed, out_dir, phases, only, log_path):
    """Write the events of the phases named in `only` into out_dir, one
    file per tick, on the wall clock. The schedule covers every phase up
    to the last one written, so two calls with the same seed and phases
    write disjoint parts of one event sequence. The clock starts once the schedule is
    built: the first event written is due LEAD_MS later. A file is
    written under a hidden name and renamed, so a reader never sees a
    partial file. The log records how long the schedule took to build,
    per file its tick's due time and when it became visible, and every
    event of the schedule."""
    b0 = time.time()
    # phases after the last one written change nothing before them
    last = max(i for i, p in enumerate(phases) if p[0] in only)
    every = schedule(seed, 0, phases[:last + 1])
    build_ms = (time.time() - b0) * 1000
    first = min(e[0] for e in every if e[4] in only)
    t0_ms = int(time.time() * 1000) + LEAD_MS - first
    every = [(e[0] + t0_ms,) + e[1:] for e in every]
    events = [e for e in every if e[4] in only]
    os.makedirs(out_dir, exist_ok=True)
    i, log = 0, []
    tick = int((events[0][0] - t0_ms) // TICK_MS)
    while i < len(events):
        due = t0_ms + tick * TICK_MS
        now = time.time() * 1000
        if now < due:
            time.sleep((due - now) / 1000.0)
        batch = []
        while i < len(events) and events[i][0] <= due:
            batch.append(events[i])
            i += 1
        if batch:
            name = "t%06d.json" % (events[i - 1][1])
            tmp = os.path.join(out_dir, "." + name + ".tmp")
            with open(tmp, "w") as f:
                for due_ms, doc_id, kind, text, _, _ in batch:
                    f.write(json.dumps(
                        {"doc_id": doc_id, "ts": iso_ms(due_ms),
                         "kind": kind, "text": text},
                        separators=(",", ":")) + "\n")
            os.rename(tmp, os.path.join(out_dir, name))
            log.append((name, due, time.time() * 1000, len(batch)))
        tick += 1
    if log_path:
        with open(log_path, "w") as f:
            json.dump({"build_ms": build_ms, "files": log, "events": [(e[0], e[1], e[2], e[4], e[5])
                                                for e in every]}, f)


def parse_phases(spec):
    out = []
    for part in spec.split(","):
        name, rate, secs = part.split(":")
        out.append((name, float(rate), float(secs)))
    return out


def selfcheck():
    """Same seed -> byte-identical input; another seed -> different."""
    def digest(seed):
        h = hashlib.sha256()
        for line in corpus_lines(seed, 300):
            h.update(line.encode())
        for e in schedule(seed, 0, [("a", 50.0, 4.0)]):
            h.update(repr(e).encode())
        return h.hexdigest()
    a, b, c = digest(7), digest(7), digest(8)
    return a == b and a != c


def main(argv):
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("corpus")
    c.add_argument("--seed", type=int, required=True)
    c.add_argument("--docs", type=int, required=True)
    c.add_argument("--out", required=True)
    f = sub.add_parser("feed")
    f.add_argument("--seed", type=int, required=True)
    f.add_argument("--dir", required=True)
    f.add_argument("--phases", required=True)
    f.add_argument("--only", required=True,
                   help="comma-separated phases to write")
    f.add_argument("--log", default="")
    sub.add_parser("selfcheck")
    a = p.parse_args(argv)
    if a.cmd == "corpus":
        write_corpus(a.seed, a.docs, a.out)
    elif a.cmd == "feed":
        feed(a.seed, a.dir, parse_phases(a.phases),
             set(a.only.split(",")), a.log)
    else:
        ok = selfcheck()
        print("generator self-check: " + ("ok" if ok else "FAILED"))
        return 0 if ok else 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
