"""Seeded op stream for the `propgraph_session` workload, plus a pure-Python
reference model of the property graph that checks every read the engine
returns.

The stream is a list of ops (dicts, JSON-serializable):

  search      {"filter": <Mongo filter JSON>}
  neighbors   {"root": [label, key]}
  khop        {"root": [label, key], "depth": 2, 3 or 4}
  graph_json  {"root": [label, key], "depth": 2, 3 or 4}
  ingest      {"docs": [<VirusTotal-shaped report JSON>, ...]}
  update      {"patches": [[label, key, {prop: value}], ...]}
  delete      {"filter": <Mongo filter JSON>}
  snapshot    {}

`Model` re-implements the semantics of `ThreatIntel.fromJson` (for the
report shapes generated here), `PropertyGraph.insertVertices/insertEdges`
(first write wins), `updateVertices` (props merge-patch), `deleteWhere`
(undirected cascade) and the read calls. Vertices are keyed by
(label, key), so the check needs no id hashing.
"""
import json
import re
import random

# Key spaces, batch sizes and the rates in Stream.report are guesses: the
# reference ships no data or traces. README.md ("Where the session's
# numbers come from") gives the reason for each value.
N_DOMAINS, N_IPS, N_HASHES, N_OWNERS = 4000, 1500, 2500, 300
BASE_REPORTS, BATCH_REPORTS = 200, 8
# One cycle: 8 reads on the reloaded snapshot, then 3 writes and the
# snapshot save + reload that follows every third write. The fixed kind and
# depth schedule gives every run the same op mix, so latency percentiles do
# not depend on the seed's draw of kinds; the seed chooses reports, filters
# and roots. Traversals are most of the reads, so the median op is a
# traversal rather than the boundary between two kinds. Reads alternate
# between a hub root and a root from the latest ingest, and deletes between
# a single key and a range of detection hashes, so that mix is fixed too.
CYCLE = [("search", 0), ("khop", 2), ("graph_json", 2), ("neighbors", 0),
         ("khop", 3), ("graph_json", 3), ("khop", 4), ("graph_json", 4),
         ("ingest", 0), ("update", 0), ("delete", 0), ("snapshot", 0)]
COUNTRIES = ["VN", "US", "DE", "FR", "JP", "BR"]
CATEGORIES = ["phish", "malware", "spam", "c2", "benign"]
LEGIT = ["undetected-downloaded", "undetected-communicating", "undetected-referrer"]
MALICIOUS = ["detected-downloaded", "detected-communicating", "detected-referrer"]


def _zipf_cum(n, s=1.1):
    cum, acc = [], 0.0
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        cum.append(acc)
    return cum


def domain(i):
    return f"d{i}.example"


def ip(i):
    return f"10.{i // 200}.{i % 200}.{(i * 7) % 250}"


def email(i):
    return f"admin{i}@corp{i % 17}.example"


def contact(i):
    return {"email": email(i), "name": f"Owner {i}"}


class Model:
    """Reference property graph keyed by (label, key)."""

    def __init__(self):
        self.v = {}   # (label, key) -> props dict
        self.e = {}   # ((l, k), (l, k), label) -> props dict

    # ---- ThreatIntel.fromJson over the generated report shape
    @staticmethod
    def ingest_batch(docs):
        res_v, child_v, edges = {}, {}, {}
        dets, owners = {}, {}

        def add_edge(s, d, lab, props):
            k = (s, d, lab)
            if k not in edges or json.dumps(sorted(props.items())) < json.dumps(sorted(edges[k].items())):
                edges[k] = props

        for doc in docs:
            for res, rep in json.loads(doc).items():
                rl = "ip" if re.match(r"^(\d{1,3}\.){3}\d{1,3}$", res) else "domain"
                r = (rl, res)
                props = {"country": rep["country"]}
                for i, c in enumerate(rep.get("categories", [])):
                    props[f"categories_{i}"] = c
                res_v[r] = props
                for sd in rep.get("observed-subdomains", []):
                    c = ("domain", sd["domain"])
                    child_v.setdefault(c, {})
                    add_edge(r, c, "observed", {})
                for dr in rep.get("dns-resolutions", []):
                    c = ("domain", dr["domain"]) if rl == "ip" else ("ip", dr["ipaddress"])
                    child_v.setdefault(c, {})
                    add_edge(r, c, "assign", {"date": dr["date"]})
                for lst in LEGIT + MALICIOUS:
                    lab = "legitimate" if lst in LEGIT else "malicious"
                    for det in rep.get(lst, []):
                        c = (lab, det["hash"])
                        cand = (det["datetime"], det["prob"])
                        if c not in dets or cand < dets[c]:
                            dets[c] = cand
                        add_edge(r, c, "trusted" if lab == "legitimate" else "threat", {})
                for dept, ct in rep.get("whois", {}).get("contacts", {}).items():
                    o = ("owner", ct["email"])
                    owners[o] = dict(ct)
                    add_edge(o, r, "belongTo", {})
        verts = dict(res_v)
        for c, (dt, pr) in dets.items():
            verts.setdefault(c, {"datetime": dt, "probability": pr})
        for c, p in owners.items():
            verts.setdefault(c, p)
        for c, p in child_v.items():
            verts.setdefault(c, p)
        return verts, edges

    def ingest(self, docs):
        verts, edges = self.ingest_batch(docs)
        for k, p in verts.items():
            self.v.setdefault(k, p)
        for k, p in edges.items():
            self.e.setdefault(k, p)
        return list(verts)

    def update(self, patches):
        for lab, key, props in patches:
            if (lab, key) in self.v:
                self.v[(lab, key)] = {**self.v[(lab, key)], **props}

    def delete(self, flt):
        gone = {k for k in self.v if matches(flt, k, self.v[k])}
        for k in gone:
            del self.v[k]
        self.e = {k: p for k, p in self.e.items() if k[0] not in gone and k[1] not in gone}

    # ---- reads, in the canonical form the harness reports
    def search(self, flt):
        return sorted([k[0], k[1], sorted(p.items())] for k, p in self.v.items()
                      if matches(flt, k, p))

    def neighbors(self, root):
        ids = set()
        for (s, d, _) in self.e:
            if s == root or d == root:
                ids.update((s, d))
        return sorted(list(k) for k in ids if k in self.v)

    def _khop(self, root, depth):
        adj = {}
        for (s, d, _) in self.e:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        seen, frontier = {root}, {root}
        for _ in range(depth):
            frontier = {n for f in frontier for n in adj.get(f, ())} - seen
            if not frontier:
                break
            seen |= frontier
        return seen

    def khop(self, root, depth):
        seen = self._khop(root, depth)
        return {"ids": len(seen), "vertices": sorted(list(k) for k in seen if k in self.v)}

    def graph_json(self, root, depth):
        seen = self._khop(root, depth)
        return {"vertices": sorted(list(k) for k in seen if k in self.v),
                "edges": sorted([list(s), list(d), lab] for (s, d, lab) in self.e
                                if s in seen and d in seen)}

    def hubs(self, n):
        deg = {}
        for (s, d, _) in self.e:
            deg[s] = deg.get(s, 0) + 1
            deg[d] = deg.get(d, 0) + 1
        return [k for k, _ in sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:n]]


def _field(path, key, props):
    if path == "label":
        return key[0]
    if path == "key":
        return key[1]
    if path.startswith("props."):
        return props.get(path[len("props."):])
    return props.get(path)


def _op(op, arg, val):
    if op == "$eq":
        return val is not None and val == arg
    if op == "$ne":
        return val != arg
    if op == "$in":
        return val is not None and val in arg
    if op == "$nin":
        return val is None or val not in arg
    if op == "$exists":
        return (val is not None) == bool(arg)
    if op == "$regex":
        return val is not None and re.search(arg, val) is not None
    if op == "$gte":
        return val is not None and val >= arg
    if op == "$lt":
        return val is not None and val < arg
    raise ValueError(f"operator {op} not modelled")


def matches(flt, key, props):
    """Mongo filter semantics as `ops.MongoFilter` compiles them."""
    for f, cond in flt.items():
        if f == "$or":
            ok = any(matches(d, key, props) for d in cond)
        elif f == "$and":
            ok = all(matches(d, key, props) for d in cond)
        elif isinstance(cond, dict):
            val = _field(f, key, props)
            ok = all(_op(o, a, val) for o, a in cond.items())
        else:
            ok = _op("$eq", cond, _field(f, key, props))
        if not ok:
            return False
    return True


class Stream:
    """Seeded report and op generator; replays the model to pick keys."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.model = Model()
        self.next_domain = 0
        self.next_ip = 0
        self.recent = []
        self.cum = {n: _zipf_cum(n) for n in (N_IPS, N_HASHES, N_DOMAINS)}

    def _hub(self, n):
        return self.rng.choices(range(n), cum_weights=self.cum[n])[0]

    def _date(self):
        return f"2016-{self.rng.randint(1, 12):02d}-{self.rng.randint(1, 28):02d}"

    def report(self):
        rng = self.rng
        existing = [k for k in self.model.v if k[0] in ("domain", "ip")]
        if existing and rng.random() < 0.25:
            res = rng.choice(sorted(existing))[1]        # re-mention: upsert conflict
        elif rng.random() < 0.7:
            res, self.next_domain = domain(self.next_domain), self.next_domain + 1
        else:
            res, self.next_ip = ip(N_IPS + self.next_ip), self.next_ip + 1
        is_ip = re.match(r"^(\d{1,3}\.){3}\d{1,3}$", res) is not None
        rep = {"country": rng.choice(COUNTRIES)}
        cats = rng.sample(CATEGORIES, rng.randint(0, 2))
        if cats:
            rep["categories"] = cats
        if not is_ip:
            subs = rng.randint(0, 2)
            if subs:
                rep["observed-subdomains"] = [{"domain": f"s{j}.{res}"} for j in range(subs)]
            rep["dns-resolutions"] = [{"ipaddress": ip(self._hub(N_IPS)), "date": self._date()}
                                      for _ in range(rng.randint(1, 3))]
        else:
            rep["dns-resolutions"] = [{"domain": domain(self._hub(N_DOMAINS)), "date": self._date()}
                                      for _ in range(rng.randint(1, 2))]
        for lst in LEGIT + MALICIOUS:
            if rng.random() < 0.3:
                rep[lst] = []
                for _ in range(rng.randint(1, 2)):
                    c = rng.choice((50, 60))
                    rep[lst].append({"hash": f"h{self._hub(N_HASHES):05d}",
                                     "datetime": self._date() + f" {rng.randint(0, 23):02d}:00:00",
                                     "prob": f"{rng.randint(0, c)}/{c}"})
        if rng.random() < 0.5:
            depts = rng.sample(["admin", "tech", "registrant"], rng.randint(1, 2))
            rep["whois"] = {"contacts": {d: contact(rng.randrange(N_OWNERS)) for d in depts}}
        return json.dumps({res: rep}, sort_keys=True)

    def batch(self, n):
        docs, seen = [], set()
        while len(docs) < n:
            d = self.report()
            res = next(iter(json.loads(d)))
            if res not in seen:
                seen.add(res)
                docs.append(d)
        return docs

    def _root(self, recent):
        if recent and self.recent:
            return list(self.rng.choice(self.recent))
        hubs = self.model.hubs(10)
        return list(self.rng.choice(hubs)) if hubs else ["domain", domain(0)]

    def _search_filter(self):
        rng = self.rng
        kind = rng.randrange(7)
        if kind == 0:
            return {"label": rng.choice(["ip", "owner", "domain"])}
        if kind == 1:
            return {"label": "domain", "props.country": {"$in": rng.sample(COUNTRIES, 2)}}
        if kind == 2:
            return {"key": {"$regex": f"^s{rng.randint(0, 1)}\\.d{rng.randint(1, 9)}"}}
        if kind == 3:
            return {"label": rng.choice(["malicious", "legitimate"]),
                    "props.probability": {"$exists": True}}
        if kind == 4:
            return {"$or": [{"label": "owner"}, {"props.country": rng.choice(COUNTRIES)}]}
        if kind == 5:
            lo = rng.randrange(N_HASHES - 40)
            return {"key": {"$gte": f"h{lo:05d}", "$lt": f"h{lo + 40:05d}"}}
        lab, key = self._root(recent=True)
        return {"label": lab, "key": key}

    def _delete_filter(self, single_key):
        rng = self.rng
        if single_key and self.recent:
            lab, key = rng.choice(self.recent)
            return {"label": lab, "key": key}
        lo = rng.randrange(N_HASHES - 5)
        return {"label": rng.choice(["legitimate", "malicious"]),
                "key": {"$gte": f"h{lo:05d}", "$lt": f"h{lo + 5:05d}"}}

    def base(self):
        docs = self.batch(BASE_REPORTS)
        self.recent = self.model.ingest(docs)
        return docs

    def ops(self, n):
        """`n` ops following CYCLE; the seed picks each op's arguments."""
        out = []
        rng = self.rng
        while len(out) < n:
            slot, cycle = len(out) % len(CYCLE), len(out) // len(CYCLE)
            kind, depth = CYCLE[slot]
            if kind == "ingest":
                docs = self.batch(BATCH_REPORTS)
                op = {"docs": docs}
                self.recent = self.model.ingest(docs)
            elif kind == "update":
                keys = sorted(self.model.v)
                picks = rng.sample(keys, min(5, len(keys)))
                op = {"patches": [[lab, key, {"status": rng.choice(["reviewed", "escalated"]),
                                              "score": str(rng.randint(0, 9))}]
                                  for lab, key in picks]}
                self.model.update(op["patches"])
            elif kind == "delete":
                flt = self._delete_filter(single_key=cycle % 2 == 0)
                op = {"filter": json.dumps(flt)}
                self.model.delete(flt)
                self.recent = [k for k in self.recent if k in self.model.v]
            elif kind == "search":
                op = {"filter": json.dumps(self._search_filter())}
            elif kind == "neighbors":
                op = {"root": self._root(recent=True)}
            elif kind in ("khop", "graph_json"):
                op = {"root": self._root(recent=slot % 2 == 0), "depth": depth}
            else:
                op = {}
            out.append({"kind": kind, **op})
        return out


def make(seed, n_ops):
    """(base reports, op stream) for a seed."""
    s = Stream(seed)
    return s.base(), s.ops(n_ops)


def expected(base_docs, ops):
    """Replay the model; yield (index, expected result) for every read op."""
    m = Model()
    m.ingest(base_docs)
    for i, op in enumerate(ops):
        k = op["kind"]
        if k == "ingest":
            m.ingest(op["docs"])
        elif k == "update":
            m.update(op["patches"])
        elif k == "delete":
            m.delete(json.loads(op["filter"]))
        elif k == "search":
            yield i, m.search(json.loads(op["filter"]))
        elif k == "neighbors":
            yield i, m.neighbors(tuple(op["root"]))
        elif k == "khop":
            yield i, m.khop(tuple(op["root"]), op["depth"])
        elif k == "graph_json":
            yield i, m.graph_json(tuple(op["root"]), op["depth"])
