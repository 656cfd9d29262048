"""Randomized cross-checks for the round-2 kernels, batched into one
Spark job each (seeded, deterministic):

- token_bucket_filter vs an independent exact-arithmetic simulation
  (Fraction tokens, no scaling trick) over random event streams;
- decode_csv_fields round-trips random field lists written by Python's
  csv.writer (quotes, separators, embedded newlines);
- decode_json_fields deep kernel vs a direct reimplementation of the
  reference's unmarshal recursion over random nested payloads.
"""

import csv
import io
import json
import random
from fractions import Fraction

from pyspark.sql import functions as F

from beats_spark.processors import compile_processors
from beats_spark.processors.core import token_bucket_filter


def _bucket_sim(times_us, rate_per_s, depth_tokens):
    """Reference simulation in exact rationals: tokens start at depth,
    accrue elapsed_seconds × rate, withdraw 1 when ≥ 1."""
    tokens = Fraction(depth_tokens)
    rate = Fraction(rate_per_s)
    last = None
    out = []
    for t in times_us:
        if last is not None:
            tokens += Fraction(t - last, 1_000_000) * rate
        last = t
        if tokens >= 1:
            tokens -= 1
            out.append(True)
        else:
            out.append(False)
    return out


def test_token_bucket_matches_exact_simulation(spark):
    rng = random.Random(42)
    rows = []
    expected = {}
    for key in range(40):
        n_ev = rng.randint(1, 30)
        t = 0
        times = []
        for _ in range(n_ev):
            t += rng.choice([0, 1, 10, 1000, 100_000, 500_000,
                             1_000_000, 5_000_000])
            times.append(1_700_000_000_000_000 + t)
        # de-dup identical timestamps per key so event order (and thus
        # the expected keep-set) is well defined by ts alone
        times = sorted(set(times))
        limit = rng.choice([1, 2, 5, 7])
        # one shared limit for the whole frame: encode per-key limits
        # by scaling times instead — keep it simple: fixed 3/s
        rows += [(f"k{key}", i, us) for i, us in enumerate(times)]
        expected[f"k{key}"] = [
            i for i, ok in enumerate(_bucket_sim(times, 3, 3)) if ok]

    df = (spark.createDataFrame(rows, "k string, id long, us long")
          .select("k", "id", F.timestamp_micros(F.col("us")).alias("ts")))
    out = token_bucket_filter(df.repartition(8), limit="3/s",
                              fields=["k"], ts_field="ts",
                              order_by=["id"])
    got = {}
    for r in out.collect():
        got.setdefault(r["k"], []).append(r["id"])
    got = {k: sorted(v) for k, v in got.items()}
    expected = {k: v for k, v in expected.items() if v}
    assert got == expected


def test_csv_roundtrip_random_fields(spark):
    rng = random.Random(7)
    alphabet = 'abc ,"\n\t;|é🐢'
    cases = []
    for i in range(200):
        n = rng.randint(1, 6)
        fields = ["".join(rng.choice(alphabet)
                          for _ in range(rng.randint(0, 8)))
                  for _ in range(n)]
        buf = io.StringIO()
        # QUOTE_ALL: with lineterminator="" the writer would otherwise
        # emit embedded newlines unquoted, which no RFC-4180 reader
        # (including Python's own) can round-trip
        csv.writer(buf, lineterminator="",
                   quoting=csv.QUOTE_ALL).writerow(fields)
        cases.append((i, buf.getvalue(), fields))

    df = spark.createDataFrame([(i, s) for i, s, _ in cases],
                               "id long, message string")
    chain = compile_processors([
        {"decode_csv_fields": {"fields": {"message": "out"}}}])
    got = {r["id"]: r["out"] for r in chain(df).collect()}
    for i, _s, fields in cases:
        assert got[i] == fields, (i, _s, got[i], fields)


def _ref_unmarshal(text, max_depth, process_array):
    """Independent transcription of decode_json_fields.go unmarshal."""
    out = json.loads(text)
    d = max_depth - 1
    if d == 0:
        return out

    def structured(s):
        s = s.strip()
        return len(s) > 1 and ((s[0] == "{" and s[-1] == "}")
                               or (s[0] == "[" and s[-1] == "]"))

    def try_u(v):
        if isinstance(v, str) and structured(v):
            try:
                r = _ref_unmarshal(v, d, process_array)
                return r
            except ValueError:
                return v
        return v

    if isinstance(out, dict):
        return {k: try_u(v) for k, v in out.items()}
    if isinstance(out, list):
        if not process_array:
            raise ValueError("skipped")
        return [try_u(v) for v in out]
    return out


def _rand_json(rng, depth):
    if depth == 0:
        return rng.choice([1, 2.5, True, None, "plain", "x y"])
    kind = rng.randrange(4)
    if kind == 0:
        return {f"k{i}": _rand_json(rng, depth - 1)
                for i in range(rng.randint(0, 3))}
    if kind == 1:
        return [_rand_json(rng, depth - 1)
                for _ in range(rng.randint(0, 3))]
    if kind == 2:
        # nested JSON *string* — the thing max_depth gates
        return json.dumps(_rand_json(rng, depth - 1))
    return rng.choice(["s", 42])


def test_decode_json_deep_matches_reference_recursion(spark):
    rng = random.Random(11)
    payloads = []
    for i in range(120):
        obj = {f"f{j}": _rand_json(rng, rng.randint(1, 3))
               for j in range(rng.randint(1, 3))}
        payloads.append((i, json.dumps(obj)))
    for max_depth in (1, 2, 3):
        for pa in (False, True):
            df = spark.createDataFrame(payloads, "id long, msg string")
            chain = compile_processors([
                {"decode_json_fields": {"fields": ["msg"],
                                        "max_depth": max_depth,
                                        "process_array": pa,
                                        # force the deep kernel even at
                                        # depth 1 via a no-op flag
                                        "expand_keys": False,
                                        "document_id": "__absent"}}])
            got = {r["id"]: r["msg"] for r in chain(df).collect()}
            for i, text in payloads:
                ref = _ref_unmarshal(text, max_depth, pa)
                enc = {k: (v if isinstance(v, str) else
                           json.dumps(v, separators=(",", ":"),
                                      sort_keys=True,
                                      ensure_ascii=False))
                       for k, v in ref.items()}
                assert got[i] == enc, (i, max_depth, pa, text)


def test_banded_hamming_pairs_pigeonhole_complete(spark):
    """Safety property of the LSH banding: EVERY pair within
    max_hamming is found when chunks >= max_hamming + 1 (pigeonhole),
    and nothing beyond max_hamming appears — checked against a brute
    all-pairs popcount over seeded random code sets, including
    adversarial near-collisions (codes differing in exactly
    max_hamming bits)."""
    from itertools import combinations
    from beats_analytics.dedup import banded_hamming_pairs
    rng = random.Random(2024)
    for trial in range(6):
        max_hamming = trial % 6
        codes = set()
        while len(codes) < 10:
            codes.add(rng.getrandbits(60))
        # adversarial: for some codes add a partner at EXACTLY
        # max_hamming bit flips (must be found) and one at
        # max_hamming+1 (must not be)
        base_code = next(iter(codes))
        flip = lambda c, k: c ^ sum(1 << b for b in
                                    rng.sample(range(60), k))
        if max_hamming:
            codes.add(flip(base_code, max_hamming))
        codes.add(flip(base_code, max_hamming + 1))
        codes = sorted(codes)
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(codes)],
            "id bigint, sh bigint")
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in banded_hamming_pairs(
                   df, bits=60, max_hamming=max_hamming,
                   chunks=6).collect()}
        want = {}
        for (i, a), (j, b) in combinations(enumerate(codes), 2):
            h = bin(a ^ b).count("1")
            if h <= max_hamming:
                want[(i, j)] = h
        assert got == want, (trial, max_hamming)
