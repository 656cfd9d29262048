"""The one address parse (``conditions._ip_words``) against a Python
model of Go: ``net.ParseIP`` (Go >= 1.17: no zone, no leading zeros),
``To4`` folding, ``IPNet.Contains``' family rule and the named
``net.IP`` predicates of ``conditions/network.go``. Every consumer is
held to it: ``network`` conditions, ``add_network_direction``,
``convert type: ip``, vpcflow's address fields and ``cidr_enrich``.
Each test runs one Spark query."""

import collections
import ipaddress
import json
import random

from pyspark.sql import functions as F

from beats_spark.conditions import compile_condition
from beats_spark.functions.vpcflow import vpc_flow_columns
from beats_spark.lookup import local_frame
from beats_spark.processors import compile_processors
from beats_spark.processors.enrich import cidr_enrich

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")
_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
_LOCAL_FOLD = ("org.apache.spark.sql.catalyst.optimizer."
               "ConvertToLocalRelation")


# ------------------------------------------------------------ the model

def go_parse_ip(s):
    """``net.ParseIP``, then ``To4``: an IPv4-mapped address is its
    IPv4 address. Python's parser rejects leading zeros as Go does;
    it takes a zone, which ParseIP does not."""
    if s is None or "%" in s:
        return None
    try:
        ip = ipaddress.ip_address(s)
    except ValueError:
        return None
    if ip.version == 6 and ip.ipv4_mapped is not None:
        return ip.ipv4_mapped
    return ip


def go_contains(cidr, ip):
    """``ParseCIDR`` + ``IPNet.Contains``: a network whose number
    ``To4`` reads as IPv4 is an IPv4 network of the mask's last 32
    bits; an address matches only a network of its own family."""
    net = ipaddress.ip_network(cidr, strict=False)
    if net.version == 6 and net.network_address.ipv4_mapped is not None:
        net = ipaddress.ip_network(
            (net.network_address.ipv4_mapped, net.prefixlen - 96))
    return ip.version == net.version and ip in net


def go_named(name):
    """The ``namedNetworks`` table (network.go:44-55) over a parsed
    address, byte-faithful to the Go ``net.IP`` methods (e.g.
    link_local_multicast v6 = ff?2::/16 on the scope nibble, private
    v6 = fd00::/8 from the reference's ff00-masked constant)."""
    v4bcast = ipaddress.ip_address("255.255.255.255")

    def loopback(ip):
        return ip.is_loopback

    def unspecified(ip):
        return int(ip) == 0

    def ll_unicast(ip):
        return ip in ipaddress.ip_network(
            "169.254.0.0/16" if ip.version == 4 else "fe80::/10")

    def ll_multicast(ip):
        if ip.version == 4:
            return ip in ipaddress.ip_network("224.0.0.0/24")
        return ip.packed[0] == 0xFF and ip.packed[1] & 0x0F == 0x02

    def iface_multicast(ip):
        return (ip.version == 6 and ip.packed[0] == 0xFF
                and ip.packed[1] & 0x0F == 0x01)

    def multicast(ip):
        return ip.is_multicast

    def private(ip):
        if ip.version == 4:
            return any(ip in ipaddress.ip_network(c) for c in
                       ("10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16"))
        return ip.packed[0] == 0xFD

    def global_unicast(ip):
        return not (ip == v4bcast or unspecified(ip) or loopback(ip)
                    or multicast(ip) or ll_unicast(ip))

    def public(ip):  # !isLocalOrPrivate (network.go:237-245)
        return not (private(ip) or loopback(ip) or unspecified(ip)
                    or ip == v4bcast or ll_unicast(ip)
                    or ll_multicast(ip) or iface_multicast(ip))

    return {
        "loopback": loopback, "unspecified": unspecified,
        "link_local_unicast": ll_unicast,
        "link_local_multicast": ll_multicast,
        "interface_local_multicast": iface_multicast,
        "multicast": multicast, "private": private,
        "unicast": global_unicast, "global_unicast": global_unicast,
        "public": public,
    }[name]


NAMED = ["loopback", "unspecified", "link_local_unicast",
         "link_local_multicast", "interface_local_multicast", "multicast",
         "private", "unicast", "global_unicast", "public"]
CIDRS = ["10.0.0.0/8", "192.168.1.0/24", "1.0.0.0/8", "0.0.0.0/0",
         "2001:db8::/32", "fd00::/8", "::/0", "::1/128", "::ffff:0:0/96",
         "::ffff:10.0.0.0/104"]
LISTS = [["private", "public"], ["loopback", "2001:db8::/32", "unicast"],
         ["multicast", "10.0.0.0/8", "fe80::/10"]]


def go_network(specs, s):
    """A ``network`` condition's list: true when the address parses and
    is in any of the specs."""
    ip = go_parse_ip(s)
    return ip is not None and any(
        go_named(x)(ip) if x in NAMED else go_contains(x, ip)
        for x in specs)


# ------------------------------------------------------------ addresses

def _v6_spellings(rng, ip):
    """Compressed and full spellings, in mixed case."""
    text = rng.choice([ip.compressed, ip.exploded])
    return "".join(c.upper() if rng.random() < 0.3 else c for c in text)


def addresses(n=400, seed=17):
    """``n`` strings from a fixed seed: addresses in and around every
    named network, mapped IPv4 in dotted and hex spelling, embedded
    IPv4 tails, leading zeros, zones, garbage and nulls."""
    rng = random.Random(seed)
    v4_blocks = ["10.0.0.0/8", "172.16.0.0/12", "172.32.0.0/16",
                 "192.168.0.0/16", "127.0.0.0/8", "169.254.0.0/16",
                 "224.0.0.0/24", "224.0.0.0/4", "1.0.0.0/8",
                 "0.0.0.0/0", "255.255.255.255/32", "0.0.0.0/32"]
    v6_blocks = ["fe80::/10", "fd00::/8", "fc00::/8", "ff00::/8",
                 "ff02::/16", "ff12::/16", "ff01::/16", "ff31::/16",
                 "2001:db8::/32", "::/127", "::/0", "::ffff:0:0/96"]

    def pick(cidr):
        net = ipaddress.ip_network(cidr)
        return net[rng.randrange(net.num_addresses)]

    out = []
    for _ in range(n):
        kind = rng.randrange(10)
        if kind < 3:
            out.append(str(pick(rng.choice(v4_blocks))))
        elif kind < 5:
            out.append(_v6_spellings(rng, pick(rng.choice(v6_blocks))))
        elif kind == 5:                       # mapped IPv4, two spellings
            v4 = pick(rng.choice(v4_blocks))
            mapped = ipaddress.IPv6Address(f"::ffff:{v4}")
            out.append(rng.choice([f"::ffff:{v4}", mapped.compressed,
                                   mapped.exploded]))
        elif kind == 6:                       # embedded IPv4 tails
            v4 = pick(rng.choice(v4_blocks))
            out.append(rng.choice([f"::{v4}", f"64:ff9b::{v4}",
                                   f"1:2:3:4:5:6:{v4}", f"fe80::1:{v4}",
                                   f"1:2:3:4:5:6:7:{v4}"]))
        elif kind == 7:                       # leading zeros
            o = str(pick("0.0.0.0/0")).split(".")
            o[rng.randrange(4)] = "0" + str(rng.randrange(256))
            v4 = ".".join(o)
            out.append(rng.choice([v4, f"::ffff:{v4}"]))
        elif kind == 8:                       # zones
            out.append(f"{pick(rng.choice(v6_blocks)).compressed}%"
                       f"{rng.choice(['eth0', '1', 'en0'])}")
        else:
            out.append(rng.choice([
                None, "", "garbage", "1:2:3", "1.2.3", "1.2.3.4.5",
                "256.0.0.1", ":::", "1::2::3", "g::1", " 10.0.0.1",
                "10.0.0.1\n", "12345::", "1:2:3:4:5:6:7:8:9",
                "1:2:3:4:5:6::1.2.3.4", "::ffff:256.1.1.1", "-"]))
    return out


def _collect(spark, df):
    """Rows of ``df`` run as generated code, the way a scan's rows run
    (the optimizer does not fold them into a local relation); the
    plan has no Python node."""
    spark.conf.set(_EXCLUDED_RULES, _LOCAL_FOLD)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in PYTHON_NODES:
            assert node not in plan, node
        return df.collect()
    finally:
        spark.conf.unset(_EXCLUDED_RULES)


# ---------------------------------------------------------------- parity

def test_network_conditions_match_go(spark):
    ips = addresses()
    df = local_frame(spark, list(enumerate(ips)), "id int, ip string")
    specs = [[x] for x in NAMED + CIDRS] + LISTS
    out = df.select("id", *[
        compile_condition({"network": {"ip": s}}).alias(f"c{i}")
        for i, s in enumerate(specs)])
    bad = []
    for r in _collect(spark, out):
        for i, s in enumerate(specs):
            want = go_network(s, ips[r["id"]])
            if r[f"c{i}"] is not want:
                bad.append((ips[r["id"]], s, r[f"c{i}"], want))
    assert not bad, bad[:10]


def test_convert_and_direction_match_go(spark):
    ips = addresses(seed=23)
    rng = random.Random(29)
    pairs = [(i, s, rng.choice(ips)) for i, s in enumerate(ips)]
    nets = ["private", "fd00::/8", "::ffff:0:0/96", "loopback"]
    df = local_frame(spark, pairs,
                     "id int, source_ip string, destination_ip string")
    chain = compile_processors([
        {"add_network_direction": {"internal_networks": nets}},
        {"convert": {"fields": [{"from": "source_ip", "to": "ip",
                                 "type": "ip"}]}}])
    for r in _collect(spark, chain(df)):
        s, d = r["source_ip"], r["destination_ip"]
        assert r["ip"] == (s if go_parse_ip(s) else None), s
        if go_parse_ip(s) is None or go_parse_ip(d) is None:
            want = None
        else:
            s_in, d_in = go_network(nets, s), go_network(nets, d)
            want = ("internal" if s_in and d_in else "outbound" if s_in
                    else "inbound" if d_in else "external")
        assert r["network_direction"] == want, (s, d)


# ------------------------------------------------- divergences from Go

def test_network_divergences(spark):
    rows = [(1, "::ffff:10.0.0.1", "10.0.0.1"),
            (2, "::ffff:a00:1", "8.8.8.8"),
            (3, "01.0.0.1", "10.0.0.1"),
            (4, "fe80::1%eth0", "10.0.0.1"),
            (5, "fe80::1", "10.0.0.1")]
    df = local_frame(spark, rows, "id int, ip string, peer string")
    out = df.select(
        "id",
        compile_condition({"network": {"ip": "10.0.0.0/8"}}).alias("v4"),
        compile_condition({"network": {"ip": "1.0.0.0/8"}}).alias("one"),
        compile_condition({"network": {"ip": "link_local_unicast"}})
        .alias("ll"),
        # one condition over two fields: each field's test stands
        compile_condition({"network": {"ip": "private", "peer": "private"}})
        .alias("both"))
    got = {r["id"]: (r["v4"], r["one"], r["ll"], r["both"])
           for r in _collect(spark, out)}
    assert got == {1: (True, False, False, True),
                   2: (True, False, False, False),
                   3: (False, False, False, False),
                   4: (False, False, False, False),
                   5: (False, False, True, False)}


def test_direction_divergences(spark):
    rows = [(1, "::ffff:10.0.0.1", "8.8.8.8"),
            (2, "::ffff:a00:1", "10.0.0.2"),
            (3, "01.0.0.1", "8.8.8.8"),
            (4, "fe80::1%eth0", "8.8.8.8"),
            (5, "fe80::1", "8.8.8.8")]
    df = local_frame(spark, rows,
                     "id int, source_ip string, destination_ip string")
    chain = compile_processors([{"add_network_direction": {
        "internal_networks": ["10.0.0.0/8", "link_local_unicast"]}}])
    got = {r["id"]: r["network_direction"]
           for r in _collect(spark, chain(df))}
    assert got == {1: "outbound", 2: "internal", 3: None, 4: None,
                   5: "outbound"}


def test_convert_divergences(spark):
    vals = ["01.0.0.1", "10.0.0.01", "fe80::1%eth0", "10.0.0.1\n",
            "::ffff:010.0.0.1", "::ffff:10.0.0.1", "fe80::1"]
    df = local_frame(spark, list(enumerate(vals)), "id int, a string")
    chain = compile_processors([{"convert": {
        "fields": [{"from": "a", "to": "ip", "type": "ip"}]}}])
    got = [r["ip"] for r in sorted(_collect(spark, chain(df)),
                                   key=lambda r: r["id"])]
    assert got == [None, None, None, None, None,
                   "::ffff:10.0.0.1", "fe80::1"]


def test_vpcflow_divergences(spark):
    lines = ["2 1 eni-1 01.0.0.1 10.0.0.2 1 2 6 1 1 1 1 ACCEPT OK",
             "2 1 eni-1 fe80::1%eth0 10.0.0.2 1 2 6 1 1 1 1 ACCEPT OK",
             "2 1 eni-1 ::ffff:10.0.0.1 10.0.0.2 1 2 6 1 1 1 1 ACCEPT OK"]
    df = local_frame(spark, list(enumerate(lines)), "id int, message string")
    cols = vpc_flow_columns(F.col("message"),
                            "version account-id interface-id srcaddr "
                            "dstaddr srcport dstport protocol packets bytes "
                            "start end action log-status", mode="original")
    out = df.select("id", cols["aws_vpcflow_srcaddr"].alias("src"),
                    cols["error_message"].alias("err"))
    got = {r["id"]: (r["src"], r["err"] is None)
           for r in _collect(spark, out)}
    assert got == {0: (None, False), 1: (None, False),
                   2: ("::ffff:10.0.0.1", True)}


def test_cidr_enrich_divergences(spark):
    events = local_frame(spark, [(1, "::ffff:10.0.0.1"), (2, "::ffff:a00:1"),
                                 (3, "01.0.0.1"), (4, "10.0.0.1"),
                                 (5, "fe80::1%eth0")],
                         "id int, ip string")
    prefixes = local_frame(spark, [("10.0.0.0/8", "ten"),
                                   ("1.0.0.0/8", "one")],
                           "cidr string, net string")
    out = cidr_enrich(events, prefixes, "ip").select("id", "net")
    got = {r["id"]: r["net"] for r in _collect(spark, out)}
    assert got == {1: "ten", 2: "ten", 3: None, 4: "ten", 5: None}


# ------------------------------------------------------------ plan shape

def _classes(df):
    """Expression and plan node class names of the optimized plan."""
    counts = collections.Counter()

    def walk(x):
        if isinstance(x, dict):
            if "class" in x:
                counts[x["class"].rsplit(".", 1)[-1]] += 1
            for v in x.values():
                walk(v)
        elif isinstance(x, list):
            for v in x:
                walk(v)
    walk(json.loads(df._jdf.queryExecution().optimizedPlan().toJSON()))
    return counts


def test_address_tests_plan_no_python_and_parse_once(spark):
    df = spark.range(4).select(
        F.concat(F.lit("10.0.0."), F.col("id").cast("string")).alias("ip"),
        F.lit("2001:db8::1").alias("peer"))
    named = df.filter(compile_condition({"network": {
        "ip": ["private", "loopback", "2001:db8::/32", "multicast"]}}))
    direction = compile_processors([{"add_network_direction": {
        "source": "ip", "destination": "peer",
        "internal_networks": ["private", "loopback", "fd00::/8"]}}])(df)
    convert = compile_processors([{"convert": {
        "fields": [{"from": "ip", "to": "addr", "type": "ip"}]}}])(df)
    for out in (named, direction, convert):
        plan = out._jdf.queryExecution().executedPlan().toString()
        for node in PYTHON_NODES:
            assert node not in plan, node

    # four specs cost the parse of one: they add table rows
    one = _classes(df.filter(compile_condition(
        {"network": {"ip": "private"}})))
    four = _classes(named)
    assert one["RLike"] and one["Conv"]
    assert (four["RLike"], four["Conv"]) == (one["RLike"], one["Conv"])
