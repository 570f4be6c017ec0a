"""The two workloads: their seeded inputs and operation plans.

Each `prepare_*` writes the workload's tables under `data`, returns the
plan the JVM side reads (`plan.json`) and keeps what the checker needs.
Literals and orders come from `random.Random(seed)`; the same seed gives
the same operations. A run times a whole number of rounds, fixed by
`--seconds` and the workload's nominal round length on a 4-core machine,
so every run of a given length executes the same multiset of operations.
"""
import random

import fixtures

# --- htsql_interactive ------------------------------------------------------

REGIONS = fixtures.REGIONS


def _lit(r):
    """One draw of every literal a template may use. The ranges are narrow
    so that every seed asks for about the same amount of work."""
    return {
        "P": r.randrange(470000, 480000, 100),      # price cut: 4-6% of orders
        "PD": r.randrange(445000, 455000, 100),     # cut on the 0.95-discounted price
        "N": r.randrange(25),                       # nation key
        "R": r.randrange(1, 4),                     # region key
        "S": r.choice("FOP"),                       # order status
        "A": r.randrange(2000, 4000, 100),          # account balance cut
        "RN": r.choice(REGIONS),
        "SZ": r.randrange(1, 51),                   # part size
        "L": r.randrange(8, 13),                    # limit
        "K": r.randrange(150, 250),                 # order key cut
        "C": r.randrange(1500),                     # customer key
    }


DSUM = "CAST(sum(CAST({} AS DECIMAL(30,6))) AS DOUBLE)"

# (name, HTSQL text, DuckDB SQL); both formatted with one literal draw
TEMPLATES = [
    ("sieve",
     "/orders?o_totalprice>{P}{{o_orderkey, o_custkey, o_totalprice}}.sort(o_orderkey)",
     "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
     "WHERE o_totalprice > {P} ORDER BY o_orderkey"),
    ("link_chain",
     "/customer?c_nationkey={N}{{c_custkey, c_name, r_name := nation.region.r_name}}"
     ".sort(c_custkey)",
     "SELECT c_custkey, c_name, r_name FROM customer "
     "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
     "WHERE c_nationkey = {N} ORDER BY c_custkey"),
    ("plural_agg",
     "/nation?n_regionkey={R}{{n_nationkey, n_name, n_cust := count(customer)}}"
     ".sort(n_nationkey)",
     "SELECT n_nationkey, n_name, count(c_custkey) AS n_cust FROM nation "
     "LEFT JOIN customer ON c_nationkey = n_nationkey WHERE n_regionkey = {R} "
     "GROUP BY n_nationkey, n_name ORDER BY n_nationkey"),
    ("filtered_agg",
     "/customer?c_nationkey={N}{{c_custkey, n_big := count(orders?o_totalprice>{P})}}"
     ".sort(c_custkey)",
     "SELECT c_custkey, count(CASE WHEN o_totalprice > {P} THEN 1 END) AS n_big "
     "FROM customer LEFT JOIN orders ON o_custkey = c_custkey WHERE c_nationkey = {N} "
     "GROUP BY c_custkey ORDER BY c_custkey"),
    ("twohop_agg",
     "/region?r_regionkey>={R}{{r_regionkey, n_cust := count(nation.customer), "
     "avg_bal := avg(nation.customer.c_acctbal)}}.sort(r_regionkey)",
     "SELECT r_regionkey, count(c_custkey) AS n_cust, "
     + DSUM.format("c_acctbal") + " / count(c_acctbal) AS avg_bal FROM region "
     "LEFT JOIN nation ON n_regionkey = r_regionkey "
     "LEFT JOIN customer ON c_nationkey = n_nationkey WHERE r_regionkey >= {R} "
     "GROUP BY r_regionkey ORDER BY r_regionkey"),
    ("quotient",
     "/(orders?o_orderstatus='{S}'^o_orderpriority){{o_orderpriority, n_orders := count(^), "
     "sum_price := sum(^.o_totalprice)}}.sort(o_orderpriority)",
     "SELECT o_orderpriority, count(*) AS n_orders, "
     + DSUM.format("o_totalprice") + " AS sum_price FROM orders "
     "WHERE o_orderstatus = '{S}' GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    ("root_agg",
     "/{{n_regions := count(region), n_big := count(orders?o_totalprice>{P}), "
     "total := sum(orders.o_totalprice)}}",
     "SELECT (SELECT count(*) FROM region) AS n_regions, "
     "(SELECT count(*) FROM orders WHERE o_totalprice > {P}) AS n_big, "
     "(SELECT " + DSUM.format("o_totalprice") + " FROM orders) AS total"),
    ("exists",
     "/customer?c_nationkey={N}&exists(orders?o_totalprice>{P}){{c_custkey, c_name}}"
     ".sort(c_custkey)",
     "SELECT c_custkey, c_name FROM customer WHERE c_nationkey = {N} AND EXISTS "
     "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > {P}) "
     "ORDER BY c_custkey"),
    ("not_exists_events",
     "/customer?c_nationkey={N}&!exists(events){{c_custkey, c_name}}.sort(c_custkey)",
     "SELECT c_custkey, c_name FROM customer WHERE c_nationkey = {N} AND NOT EXISTS "
     "(SELECT 1 FROM events WHERE user_id = c_custkey) ORDER BY c_custkey"),
    ("define",
     "/orders.define(net := o_totalprice*0.95)?net>{PD}{{o_orderkey, net}}.sort(o_orderkey)",
     "SELECT o_orderkey, o_totalprice * 0.95 AS net FROM orders "
     "WHERE o_totalprice * 0.95 > {PD} ORDER BY o_orderkey"),
    ("given",
     "/customer?c_nationkey={N}{{c_custkey, n_big := given(count(orders?o_totalprice>$cap), "
     "cap := {P})}}.sort(c_custkey)",
     "SELECT c_custkey, count(CASE WHEN o_totalprice > {P} THEN 1 END) AS n_big "
     "FROM customer LEFT JOIN orders ON o_custkey = c_custkey WHERE c_nationkey = {N} "
     "GROUP BY c_custkey ORDER BY c_custkey"),
    ("attach",
     "/region{{r_regionkey, r_name, n_here := count(nation), n_all := count(@nation), "
     "n_big_orders := count(@orders?o_totalprice>{P})}}.sort(r_regionkey)",
     "SELECT r_regionkey, r_name, count(n_nationkey) AS n_here, "
     "(SELECT count(*) FROM nation) AS n_all, "
     "(SELECT count(*) FROM orders WHERE o_totalprice > {P}) AS n_big_orders "
     "FROM region LEFT JOIN nation ON n_regionkey = r_regionkey "
     "GROUP BY r_regionkey, r_name ORDER BY r_regionkey"),
    ("postproj_sieve",
     "/customer{{c_custkey, seg := c_mktsegment}}?c_acctbal>{A}&nation.region.r_name='{RN}'"
     ".sort(c_custkey)",
     "SELECT c_custkey, c_mktsegment AS seg FROM customer "
     "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
     "WHERE c_acctbal > {A} AND r_name = '{RN}' ORDER BY c_custkey"),
    ("sort_limit",
     "/part?p_size={SZ}{{p_partkey, p_name, p_retailprice}}.sort(p_retailprice-, p_partkey)"
     ".limit({L})",
     "SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_size = {SZ} "
     "ORDER BY p_retailprice DESC, p_partkey LIMIT {L}"),
    ("lineitem_link",
     "/lineitem?l_orderkey<{K}{{l_orderkey, l_linenumber, l_quantity, "
     "prio := order.o_orderpriority}}.sort(l_orderkey, l_linenumber)",
     "SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority AS prio FROM lineitem "
     "JOIN orders ON l_orderkey = o_orderkey WHERE l_orderkey < {K} "
     "ORDER BY l_orderkey, l_linenumber"),
    ("lineitem_agg",
     "/orders?o_custkey={C}{{o_orderkey, n_lines := count(lineitem), "
     "qty := sum(lineitem.l_quantity)}}.sort(o_orderkey)",
     "SELECT o_orderkey, count(l_orderkey) AS n_lines, "
     + DSUM.format("l_quantity") + " AS qty FROM orders "
     "LEFT JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey = {C} "
     "GROUP BY o_orderkey ORDER BY o_orderkey"),
]
VARIANTS = 3   # timed literal draws per template; round r asks variant r % 3


def _rounds(seconds, nominal_s):
    return max(1, round(seconds / nominal_s))


def prepare_htsql(seed, data, seconds):
    """Texts, in order: one warm-up draw per template, the `VARIANTS` timed
    draws, then as many draws the traced run replays in process (request
    `i` is replayed as text `i + replay_offset`). Every text is a first run
    of its literals, in set-up, in the timed window and in the replay."""
    fixtures.tpch(seed, data)
    r = random.Random(seed)
    requests, sqls = [], []
    for _ in range(1 + 2 * VARIANTS):
        for name, text, sql in TEMPLATES:
            lit = _lit(r)
            requests.append(text.format(**lit))
            sqls.append((name, sql.format(**lit)))
    n = len(TEMPLATES)
    # one round asks every template once, variants alternating by round
    schedule = []
    for v in range(VARIANTS):
        rnd = [(1 + v) * n + t for t in range(n)]
        r.shuffle(rnd)
        schedule += rnd
    return ({"requests": requests, "schedule": schedule, "round": n, "warmup": n,
             "replay_offset": VARIANTS * n, "rounds": _rounds(seconds, 5)}, {"sql": sqls})


# --- ingest_index -----------------------------------------------------------

DOCS_PER_ARRIVAL = 100
WARMUP_READS = 6          # after the set-up arrival
READS_PER_ARRIVAL = 9     # after a timed arrival
TOP_K = 10
COMPACT_EVERY = 2
TERMS = fixtures.VOCAB + ["café"]


def _reads(r, n):
    """`n` reads with 1, 2 and 3 terms in turn, shuffled: every seed asks
    for the same mix of term counts."""
    sizes = [1 + i % 3 for i in range(n)]
    r.shuffle(sizes)
    return [r.sample(TERMS, s) for s in sizes]


def prepare_ingest(seed, data, seconds):
    n = fixtures.arrivals(seed, data, DOCS_PER_ARRIVAL)
    import pyarrow.parquet as pq
    file_docs = [pq.read_metadata(f"{data}/a{j:05d}.parquet").num_rows for j in range(n)]
    r = random.Random(seed)
    reads = [_reads(r, WARMUP_READS if j == 0 else READS_PER_ARRIVAL) for j in range(n)]
    return ({"file_docs": file_docs, "reads": reads, "k": TOP_K,
             "compact_every": COMPACT_EVERY, "rounds": _rounds(seconds, 20)}, {"k": TOP_K})


PREPARE = {"htsql_interactive": prepare_htsql, "ingest_index": prepare_ingest}
