"""Reference model of the CDP segment pipeline, used to check the soak's
segment frames. It is written from the pipeline's documented semantics,
independently of the Scala code: per profile, events of one micro-batch
apply in (ts, eventId) order; an eventId seen before by the profile is
dropped; the plan trait is last-writer-wins under the (ts, eventId)
order; power_user means at least 5 TRACK events in 1-minute buckets over
the trailing 24 h of the newest event seen; pro_plan means plan == "pro".
Every change of a segment emits ENTER or EXIT.
"""
from collections import Counter, defaultdict

DAY_MS = 86_400_000
BUCKET_MS = 60_000
POWER_USER = 5
DEDUP_CAP = 10_000


def segment_counts(events):
    """Expected `segment:action` counts for `events`, a list of
    (event_id, ts_ms, type, user_id, plan) applied as one batch; events
    whose ts follows their arrival order per profile give the same counts
    however they are split into micro-batches."""
    out = Counter()
    by_profile = defaultdict(list)
    for e in events:
        by_profile["user:" + e[3]].append(e)
    for evs in by_profile.values():
        st = {"seen": set(), "plan": None, "last": 0, "buckets": Counter(),
              "segs": frozenset()}
        for eid, ts, typ, _, plan in sorted(evs, key=lambda e: (e[1], e[0])):
            if eid in st["seen"]:
                continue
            st["seen"].add(eid)
            if len(st["seen"]) > DEDUP_CAP:
                raise ValueError("model does not cover the dedup sweep")
            if plan is not None:
                prev = st["plan"]
                if prev is None or not (ts < prev[1] or (ts == prev[1] and eid < prev[2])):
                    st["plan"] = (plan, ts, eid)
            st["last"] = max(st["last"], ts)
            if typ == "TRACK":
                st["buckets"][(ts // BUCKET_MS) * BUCKET_MS] += 1
            horizon = ((st["last"] - DAY_MS) // BUCKET_MS) * BUCKET_MS
            st["buckets"] = Counter({b: c for b, c in st["buckets"].items()
                                     if b >= horizon})
            segs = set()
            if sum(st["buckets"].values()) >= POWER_USER:
                segs.add("power_user")
            if st["plan"] is not None and st["plan"][0] == "pro":
                segs.add("pro_plan")
            for s in segs - st["segs"]:
                out[s + ":ENTER"] += 1
            for s in st["segs"] - segs:
                out[s + ":EXIT"] += 1
            st["segs"] = frozenset(segs)
    return dict(out)
