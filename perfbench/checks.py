"""Output checks for one pipeline: every export is compared with what the
generated tables or the exported forest imply, and the quality metrics
are recomputed from the clusterings the program reports."""
import glob
import itertools
import json
import math
import os
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

# Outputs of simplify_customer that the key relabelling leaves unchanged
# for every seed, pinned at the commit that introduced the benchmark.
SIMPLIFY_GOLDEN = {
    "epochs": 6,
    "productions": [
        "GROUP::nation -> ENT::n_name ENT::n_nationkey ENT::r_name ENT::r_regionkey",
        "GROUP::nation_1 -> ENT::c_acctbal ENT::c_custkey ENT::c_mktsegment ENT::c_name ENT::n_name ENT::n_nationkey",
        "REL::nation -> GROUP::nation GROUP::nation",
        "REL::nation<->nation_1 -> GROUP::nation GROUP::nation_1",
    ],
    "relations": ["nation<->nation_1: nation_1 <-> nation [Right]"],
    # distinct group oids per label in the rewritten forest
    "groups": {"nation": 31, "nation_1": 201},
}
# The program sums the expected MI term by term; against 40-digit arithmetic
# its AMI is off by about 3e-10 relative at 200 trees, this oracle's by 3e-11.
METRIC_RTOL = 1e-9
CYPHER_KIND = re.compile(r"CREATE INDEX|MERGE \(n:`([^`]*)`|MATCH \(src:`([^`]*)`")


def relational_counts(tables):
    """Rows of each table that the root table's trees reach: every order,
    and the customers, nations and regions they reference. Without an
    orders table the customers are the roots."""
    cust, nation = tables["customer"], tables["nation"]
    nation_of = dict(zip(cust["c_custkey"].tolist(), cust["c_nationkey"].tolist()))
    region_of = dict(zip(nation["n_nationkey"].tolist(), nation["n_regionkey"].tolist()))
    counts = {}
    if "orders" in tables:
        counts["orders"] = len(tables["orders"]["o_orderkey"])
        customers = set(tables["orders"]["o_custkey"].tolist())
    else:
        customers = set(nation_of)
    nations = {nation_of[c] for c in customers}
    counts.update(customer=len(customers), nation=len(nations), region=len({region_of[n] for n in nations}))
    return counts


def text_lines(path):
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p) as f:
            yield from f


def parquet_rows(path):
    return sum(pq.ParquetFile(p).metadata.num_rows for p in glob.glob(os.path.join(path, "*.parquet")))


def cypher_counts(path):
    """Statement counts per kind: `index`, `node:<label>`, `edge:<source label>`."""
    counts = Counter()
    for line in text_lines(path):
        m = CYPHER_KIND.match(line)
        counts["other" if m is None else f"node:{m[1]}" if m[1] else f"edge:{m[2]}" if m[2] else "index"] += 1
    return dict(counts)


def forest_groups(path):
    """Walk the exported JSONL forest: tree count, and per GROUP label the
    distinct oids and the distinct (oid, entity values) instances."""
    oids, instances, trees = defaultdict(set), defaultdict(set), 0

    def walk(node):
        if isinstance(node, str):
            return
        if node["type"] == "GROUP":
            ents = tuple((c["name"], c["metadata"].get("value", " ".join(x for x in c["children"] if isinstance(x, str))))
                         for c in node["children"] if not isinstance(c, str) and c["type"] == "ENT")
            oids[node["name"]].add(node["oid"] or "")
            instances[node["name"]].add((node["oid"] or "", ents))
        for c in node["children"]:
            walk(c)

    for line in text_lines(path):
        walk(json.loads(line))
        trees += 1
    return trees, {k: len(v) for k, v in oids.items()}, {k: len(v) for k, v in instances.items()}


# ---------------------------------------------------------------- metrics oracle
# The formulas of sklearn's adjusted_mutual_info_score (arithmetic mean),
# completeness_score and expected_mutual_information, with entities present
# in one clustering only counted as singleton clusters on the other side.

def contingency(origin, current):
    """Cells of the full outer join of two (oid, label) lists on oid; an
    entity missing on one side is a singleton cluster there."""
    labels_a, labels_b = defaultdict(list), defaultdict(list)
    for oid, label in origin:
        labels_a[oid].append(label)
    for oid, label in current:
        labels_b[oid].append(label)
    singletons, cells = itertools.count(), Counter()
    for oid in labels_a.keys() | labels_b.keys():
        for a in labels_a.get(oid) or [None]:
            for b in labels_b.get(oid) or [None]:
                cells[(a if a is not None else ("single", next(singletons)),
                       b if b is not None else ("single", next(singletons)))] += 1
    return cells


def entropy(counts, n):
    return -sum(c / n * math.log(c / n) for c in counts if c > 0)


def expected_mutual_info(a_sizes, b_sizes, n):
    """EMI summed once per distinct pair of cluster sizes."""
    lg = math.lgamma
    total = 0.0
    for ai, ka in Counter(a_sizes).items():
        for bj, kb in Counter(b_sizes).items():
            fixed = lg(ai + 1) + lg(bj + 1) + lg(n - ai + 1) + lg(n - bj + 1) - lg(n + 1)
            s = 0.0
            for nij in range(max(1, ai + bj - n), min(ai, bj) + 1):
                s += nij / n * math.log(n * nij / (ai * bj)) * math.exp(
                    fixed - lg(nij + 1) - lg(ai - nij + 1) - lg(bj - nij + 1) - lg(n - ai - bj + nij + 1))
            total += ka * kb * s
    return total


def cluster_scores(cells):
    """(AMI, completeness) of a contingency table; the first key of a cell
    is the true (origin) label, the second the predicted (current) one."""
    n = sum(cells.values())
    ca, cb = Counter(), Counter()
    for (a, b), c in cells.items():
        ca[a] += c
        cb[b] += c
    ha, hb = entropy(ca.values(), n), entropy(cb.values(), n)
    if (len(ca) == 1 and len(cb) == 1) or (len(ca) == n and len(cb) == n):
        ami = 1.0
    else:
        mi = sum(c / n * math.log(n * c / (ca[a] * cb[b])) for (a, b), c in cells.items())
        emi = expected_mutual_info(list(ca.values()), list(cb.values()), n)
        denom = (ha + hb) / 2 - emi
        ami = 0.0 if denom == 0 else (mi - emi) / denom
    b_given_a = -sum(c / n * math.log(c / ca[a]) for (a, _), c in cells.items())
    completeness = 1.0 if hb == 0 else 1.0 - b_given_a / hb
    return ami, completeness


def oracle_metrics(report):
    a, b = set(report["origin_oids"]), set(report["current_oids"])
    coverage = len(a & b) / len(a | b) if a | b else 1.0
    ami, completeness = cluster_scores(contingency(report["origin_clusters"], report["current_clusters"]))
    return {"coverage": coverage, "ami": ami, "completeness": completeness}


# ---------------------------------------------------------------- all checks

def check_outputs(wl, report, out, relational):
    """Names of the failed checks; empty when every output is right.
    `relational` is relational_counts() of the generated tables."""
    failed = []

    def check(name, ok):
        if not ok:
            failed.append(name)

    roots = relational["orders" if "orders" in relational else "customer"]
    trees, group_oids, group_instances = forest_groups(os.path.join(out, "jsonl"))
    check("tree_count", report["trees"] == roots)
    check("jsonl_lines", trees == roots)
    if wl["rewrite"]:
        g = SIMPLIFY_GOLDEN
        check("epochs_to_converge", report.get("epochs") == g["epochs"])
        check("schema_productions", report["productions"] == g["productions"])
        check("schema_relations", report["relations"] == g["relations"])
        # the rewrite re-creates some groups, so the group counts are not
        # relational counts; they are the same for every seed
        groups = g["groups"]
        # one edge per customer from `nation_1`, one per referenced nation from `nation`
        edges = {"nation_1": relational["customer"], "nation": relational["nation"]}
    else:
        # an unrewritten forest: one group per referenced row, one edge per FK
        groups = dict(relational)
        check("forest_group_instances", group_instances == groups)
        edges = {k: v for k, v in groups.items() if k != "region"}
    check("forest_groups", group_oids == groups)
    if wl["metrics"]:
        expect = oracle_metrics(report)
        for m, want in expect.items():
            v = report.get(m)
            check(f"metric_{m}", v is not None and abs(v - want) <= METRIC_RTOL * max(abs(want), 1e-300))
    # one SQL table per group label, one row per group
    tables = {os.path.basename(p): parquet_rows(p) for p in glob.glob(os.path.join(out, "sql", "*"))}
    check("sql_tables", sorted(tables) == sorted(groups))
    check("sql_row_counts", tables == groups)
    # one index per group label, one MERGE per distinct group instance
    # (oid and entity values), one edge per FK pair
    want = {"index": len(groups)}
    want.update({f"node:{k}": v for k, v in group_instances.items()})
    want.update({f"edge:{k}": v for k, v in edges.items()})
    check("cypher_statements", cypher_counts(os.path.join(out, "cypher")) == want)
    return failed
