#!/usr/bin/env python3
"""Seeded input generators for the perfbench workloads.

Two generators live here:

* ``stream`` -- the open-loop event generator for ``cdc_stream`` and
  ``upsert_stream``.  It runs as ONE single-threaded process, separate from
  the Spark JVM.  It stages the catch-up backlog, waits until the harness
  reports the backlog drained, then publishes files on a fixed schedule
  that does not slow when Spark slows.  Every event carries its creation
  stamp (the instant its file was due), files are published atomically
  (write aside, then rename), and the process reports how late it ran.  At
  the end it writes the expected-outcome manifest for the seed.

* ``corpus`` -- the organic curation corpus (``documents.parquet`` and
  ``embeddings.parquet``) with GenCorpus's marginals: 31-word vocabulary,
  10-100 uniform tokens per doc, en ~41% and de/es/fr/zh for the rest, 20
  sources, ~1/23 near-dup recrawls of an earlier doc, ~1/640 exact dups,
  64-d unit embeddings in 10 label clusters.

The same seed always gives the same event contents and corpus; only the
creation stamps depend on when the run happens.

    python3 perfbench/gen.py stream <workload> <seed> <workdir> <rate_eps> <steady_s>
    python3 perfbench/gen.py corpus <seed> <outdir> <n_docs> <n_vecs>
"""
import bisect
import json
import os
import random
import sys
import time

PERIOD_S = 0.5  # one steady-phase file every 500 ms

# The traffic shape below is assumed, not measured: the repository holds no
# production change log or envelope stream to derive it from. Each share is
# large enough that its path (dedup, suppression, dead letters, filter) runs
# in every micro-batch, while plain events stay the bulk of the load.

# cdc_stream: backlog size and the fixed shares of each event pattern
CDC_BACKLOG_FILES, CDC_BACKLOG_FILE_EVENTS = 32, 1000
CDC_SHARES = (("plain", 0.70), ("dup", 0.10), ("unchanged", 0.10),
              ("idless", 0.05), ("unknown", 0.05))
# upsert_stream: backlog size, Zipf key space and the fixed shares; s = 1.1
# puts 39% of the events on the 10 hottest of 20,000 keys, so batches hold
# repeated keys, and the long tail still touches every sink bucket
UPS_BACKLOG_FILES, UPS_BACKLOG_FILE_EVENTS = 32, 1000
UPS_KEYS, UPS_ZIPF_S = 20000, 1.1
UPS_SHARES = (("valid", 0.90), ("malformed", 0.05), ("idless", 0.05))
UPS_REF_EVERY = 10  # every 10th key has reference (enrichment) rows
RESEND_LAG_FILES = 3  # a resend trails its original by three files (1.5 s when steady), well inside the TTL
WARM_FILES = 2  # warm-up files, drained before the timed query starts


def iso(us):
    """Microsecond epoch -> ISO-8601 UTC string Spark's JSON reader parses."""
    s, frac = divmod(us, 1_000_000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + f".{frac:06d}Z"


def pick(rng, shares):
    x, acc = rng.random(), 0.0
    for name, p in shares:
        acc += p
        if x < acc:
            return name
    return shares[-1][0]


def now_us():
    return time.time_ns() // 1000


class CdcPlan:
    """Change events for MongoToKafkaJob: every pattern uses fresh keys, so
    the expected survivors do not depend on the order rows meet inside a
    micro-batch."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.n = 0
        self.pending = {}  # file index -> events owed to that file
        self.good, self.dlq = [], []  # expected outcomes
        self.dlq_stamps = {}  # n of each dead-lettered event -> its creation stamp
        self.counts = dict.fromkeys([k for k, _ in CDC_SHARES], 0)

    def _id(self):
        self.n += 1
        return self.n, f"k{self.n:09d}"

    def file_events(self, fi, size):
        """Templates for file `fi`: dicts whose `eventTime` is filled at publish."""
        out = self.pending.pop(fi, [])
        while len(out) < size:
            kind = pick(self.rng, CDC_SHARES)
            self.counts[kind] += 1
            n, key = self._id()
            v = str(self.rng.randrange(1_000_000))
            if kind in ("plain", "dup", "unknown"):
                doc = json.dumps({"_id": key, "v": v, "n": n})
                ev = {"op": "zz" if kind == "unknown" else "c", "db": "bench",
                      "collection": "users", "documentKey": json.dumps({"_id": key}),
                      "fullDocument": doc, "updatedFields": None}
                out.append(ev)
                if kind == "dup":  # resent later with the SAME eventTime
                    self.pending.setdefault(fi + RESEND_LAG_FILES, []).append(
                        {"_resend_of": ev})
                if kind != "unknown":
                    self.good.append([key, "insert", doc])
            elif kind == "unchanged":  # two updates equal up to updatedAt
                for lag in (0, RESEND_LAG_FILES):
                    ev = {"op": "update", "db": "bench", "collection": "users",
                          "documentKey": json.dumps({"_id": key}),
                          "fullDocument": None, "updatedFields": None,
                          "_doc": {"_id": key, "v": v, "n": n}}
                    if lag:
                        self.pending.setdefault(fi + lag, []).append(ev)
                    else:
                        out.append(ev)
                self.good.append([key, "update", json.dumps({"_id": key, "v": v, "n": n})])
            else:  # idless: payload without _id -> schema-gate dead letter
                doc = json.dumps({"v": v, "n": n})
                out.append({"op": "c", "db": "bench", "collection": "users",
                            "documentKey": json.dumps({"_id": key}),
                            "fullDocument": doc, "updatedFields": None, "_dlq_n": n})
                self.dlq.append(doc)
        return out

    def render(self, ev, stamp):
        """Event template -> (JSON line, creation stamp, has_result). Keys
        starting with `_` are generator bookkeeping, not event fields."""
        if "_resend_of" in ev:
            orig = ev["_resend_of"]
            return orig["_line"], orig["_stamp"], False
        rec = {k: v for k, v in ev.items() if not k.startswith("_")}
        rec["eventTime"] = iso(stamp)
        if "_doc" in ev:
            rec["fullDocument"] = json.dumps(dict(ev["_doc"], updatedAt=iso(stamp)))
        if "_dlq_n" in ev:
            self.dlq_stamps[ev["_dlq_n"]] = stamp
        ev["_stamp"], ev["_line"] = stamp, json.dumps(rec)
        # only the first of an unchanged pair is sure to survive, so neither is
        # a latency sample; dups and unknown ops never produce a result
        has_result = rec["op"] == "c"
        return ev["_line"], stamp, has_result

    def manifest(self):
        return {"good": sorted(self.good), "dlq": sorted(self.dlq), "counts": self.counts,
                "dlq_stamps": self.dlq_stamps}


class UpsertPlan:
    """Envelope lines for KafkaToMongoJob over a Zipf-skewed key space."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        w = [1.0 / (i ** UPS_ZIPF_S) for i in range(1, UPS_KEYS + 1)]
        tot = sum(w)
        self.cdf, acc = [], 0.0
        for x in w:
            acc += x / tot
            self.cdf.append(acc)
        # a seeded permutation, so the hot keys are not the lowest ids
        self.names = [f"u{i:06d}" for i in range(UPS_KEYS)]
        self.rng.shuffle(self.names)
        self.n = 0
        self.table = {}  # key -> [doc, stamp] of the last valid event
        self.counts = dict.fromkeys([k for k, _ in UPS_SHARES], 0)

    def _key(self):
        return self.names[min(bisect.bisect_left(self.cdf, self.rng.random()), UPS_KEYS - 1)]

    def file_events(self, fi, size):
        out = []
        for _ in range(size):
            kind = pick(self.rng, UPS_SHARES)
            self.counts[kind] += 1
            self.n += 1
            key, v = self._key(), str(self.rng.randrange(1_000_000))
            out.append((kind, key, v, self.n))
        return out

    def render(self, ev, stamp):
        kind, key, v, n = ev
        if kind == "malformed":  # half truncated JSON objects, half not JSON at all
            line = (f'{{"operation":"update","source":"orders","payloadJson":"{{\\"_id\\": '
                    f'\\"{key}\\", \\"v\\": {v}, BROKEN-{n}}}' if n % 2 else f"garbage {key} {v} {n}")
            return line, stamp, True
        doc = json.dumps({"_id": key, "v": v, "n": n} if kind == "valid" else {"v": v, "n": n})
        rec = {"operation": "update", "source": "orders", "payloadJson": doc,
               "eventTime": iso(stamp), "traceId": f"t-{n}", "primaryKey": key}
        if kind == "valid":
            self.table[key] = [doc, stamp]
        return json.dumps(rec), stamp, True

    def reference(self):
        """Static reference rows (several versions per key) for the broadcast join."""
        rows = []
        for i, key in enumerate(sorted(self.names)):
            if i % UPS_REF_EVERY:
                continue
            for ver in range(3):
                rows.append(json.dumps({
                    "operation": "insert", "source": "profiles",
                    "payloadJson": json.dumps({"_id": key, "tier": f"t{(i + ver) % 5}", "ver": ver}),
                    "eventTime": iso(1_700_000_000_000_000 + ver * 1000), "traceId": f"r-{i}-{ver}",
                    "primaryKey": key}))
        return rows

    def manifest(self):
        return {"table": {k: v for k, v in sorted(self.table.items())}, "counts": self.counts}


def write_atomic(stage_dir, dst, lines, mtime_us):
    tmp = os.path.join(stage_dir, os.path.basename(dst) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.utime(tmp, ns=(mtime_us * 1000, mtime_us * 1000))
    os.rename(tmp, dst)


def marker(work, name, files, events):
    """Atomically create the marker `name` holding a file and an event count."""
    tmp = os.path.join(work, name + ".tmp")
    with open(tmp, "w") as f:
        f.write(f"{files} {events}")
    os.rename(tmp, os.path.join(work, name))


def wait_for(path, timeout_s):
    end = time.monotonic() + timeout_s
    while not os.path.exists(path):
        if time.monotonic() > end:
            raise SystemExit(f"gen: timed out waiting for {path}")
        time.sleep(0.01)


def stream(workload, seed, work, rate_eps, steady_s):
    plan = CdcPlan(seed) if workload == "cdc_stream" else UpsertPlan(seed)
    nb, bsize = ((CDC_BACKLOG_FILES, CDC_BACKLOG_FILE_EVENTS) if workload == "cdc_stream"
                 else (UPS_BACKLOG_FILES, UPS_BACKLOG_FILE_EVENTS))
    inbox, stage = os.path.join(work, "in"), os.path.join(work, "stage")
    os.makedirs(inbox)
    os.makedirs(stage)
    if workload == "upsert_stream":
        with open(os.path.join(work, "ref.jsonl"), "w") as f:
            f.write("\n".join(plan.reference()) + "\n")
    per_file = max(1, round(rate_eps * PERIOD_S))
    n_steady = max(1, round(steady_s / PERIOD_S))
    # all contents are drawn up front, so the publish loop only stamps and writes
    files = [plan.file_events(i, bsize if i < nb else per_file) for i in range(nb + n_steady)]
    owed = getattr(plan, "pending", {})
    while owed:  # resends owed past the last steady file
        files.append(owed.pop(min(owed)))
    report = {"backlog_files": nb, "backlog_events": 0, "files": {}}

    def publish(i, due_us):
        lines, samples = [], []
        for j, ev in enumerate(files[i]):
            line, stamp, has_result = plan.render(ev, due_us + j)
            lines.append(line)
            if has_result:
                samples.append(stamp)
        name = f"part-{i:05d}.json"
        write_atomic(stage, os.path.join(inbox, name), lines, due_us)
        report["files"][name] = {"events": len(lines), "stamps": samples}
        return len(lines)

    base = now_us() - 1_000_000 * (nb + 1)  # backlog mtimes sort before steady files
    for i in range(nb):
        report["backlog_events"] += publish(i, base + i * 1_000_000)
    # warm-up input: a few small files from another seed, in their own directory
    warm_plan = type(plan)(seed + 7919)
    os.makedirs(os.path.join(work, "warm"))
    for i in range(WARM_FILES):
        evs = warm_plan.file_events(i, bsize // 4)
        lines = [warm_plan.render(ev, base + i * 1_000_000 + j)[0] for j, ev in enumerate(evs)]
        write_atomic(stage, os.path.join(work, "warm", f"part-{i:05d}.json"), lines, base)
    marker(work, "staged", nb, report["backlog_events"])

    wait_for(os.path.join(work, "catchup_done"), 600)
    t0 = now_us()
    late_ms, steady_events = [], 0
    for k, i in enumerate(range(nb, len(files))):
        due = t0 + round(k * PERIOD_S * 1_000_000)
        delay = (due - now_us()) / 1e6
        if delay > 0:
            time.sleep(delay)
        steady_events += publish(i, due)
        late_ms.append(max(0.0, (now_us() - due) / 1000))
    report.update(steady_start_us=t0, steady_events=steady_events,
                  late_ms=late_ms, manifest=plan.manifest(),
                  total_events=report["backlog_events"] + steady_events)
    with open(os.path.join(work, "gen_report.json"), "w") as f:
        json.dump(report, f)
    marker(work, "gen_done", len(files), report["total_events"])


VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ("de", "es", "fr", "zh")


def corpus(seed, out, n_docs, n_vecs):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    ends = np.cumsum(lens)
    base = [" ".join(VOCAB[w] for w in words[e - n:e]) for n, e in zip(lens.tolist(), ends.tolist())]
    ids = np.arange(n_docs)
    exact = (ids > 0) & (ids % 640 == 639)
    recrawl = (ids > 10) & (ids % 23 == 7) & ~exact
    special = exact | recrawl
    back = rng.integers(0, 10, n_docs)
    tails = rng.integers(0, len(VOCAB), (n_docs, 2))

    def plain_at_or_below(i):
        i = max(i, 0)
        while i > 0 and special[i]:
            i -= 1
        return i

    text = list(base)
    for i in np.flatnonzero(special).tolist():
        if exact[i]:
            text[i] = base[plain_at_or_below(i - 1)]
        else:
            t = tails[i]
            text[i] = f"{base[plain_at_or_below(i - 1 - int(back[i]))]} {VOCAB[t[0]]} {VOCAB[t[1]]}"
    langs = np.where(rng.random(n_docs) < 0.41, "en", np.array(LANGS)[rng.integers(0, 4, n_docs)])
    sources = np.char.add("src", rng.integers(0, 20, n_docs).astype(str))
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array(sources.tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    v = (centers[labels] + 0.35 * rng.standard_normal((n_vecs, 64))).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 64 * n_vecs + 1, 64), pa.int32()), pa.array(v.ravel(), pa.float32()))
    vecs = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(vecs, os.path.join(out, "embeddings.parquet"))


def main(argv):
    if len(argv) == 6 and argv[0] == "stream":
        stream(argv[1], int(argv[2]), argv[3], float(argv[4]), float(argv[5]))
    elif len(argv) == 5 and argv[0] == "corpus":
        corpus(int(argv[1]), argv[2], int(argv[3]), int(argv[4]))
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
