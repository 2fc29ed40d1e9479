"""Seeded input generators for the benchmark.

clinical(out, seed, users)
    The paper's three CSVs (FIXTURES.md schema): users, weights,
    treatments. About 32 weigh-ins per user over roughly 12 weeks around
    the treatment start. Each user's weigh-in times are distinct, so the
    six sort keys (UID, user CreatedDate, TreatmentTypeID, StartDate,
    weigh-in CreatedDate, UpdatedDate) never tie within a user and
    first/last/lead are deterministic on every engine.

tables(out, seed)
    The TPC-H-ish star schema plus events, documents and embeddings at
    the row counts and value domains of the sf0.01 test data
    (TESTDATA.md), as one parquet file per table.

Both write into a temporary directory and rename it into place, so a
cached directory is always complete.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

FIRST = ["Cindy", "James", "Maria", "Wei", "Aisha", "Lars", "Sofia", "Omar",
         "Yuki", "Pedro", "Nina", "Ravi", "Elena", "Tom", "Grace", "Ivan"]
LAST = ["Hartman", "Smith", "Garcia", "Chen", "Khan", "Berg", "Rossi", "Haddad",
        "Sato", "Silva", "Novak", "Patel", "Ivanova", "Brown", "Lee", "Popov"]
CLINICS = [5066, 5067, 5068, 5069]
CLINIC_P = [0.55, 0.2, 0.15, 0.1]


def _publish(tmp, out):
    if os.path.exists(out):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, out)


def clinical(out, seed, users):
    """Write users.csv, weights.csv and treatments.csv for `users` users;
    return the number of weigh-ins."""
    rng = np.random.default_rng(seed)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    sec = np.timedelta64(1, "s")
    day = np.timedelta64(1, "D")
    u = np.arange(users)
    uid = np.array([f"u{i:06d}-{h:08x}" for i, h in zip(u, rng.integers(0, 2**32, users))])
    # every user has its own time of day, kept by all of its dates
    created = (np.datetime64("2023-01-02T08:00:00") + rng.integers(0, 180, users) * day
               + rng.integers(0, 86400, users) * sec)
    age = rng.integers(10, 81, users)
    height = rng.integers(150, 196, users)
    birthday = created - (365 * age + rng.integers(0, 365, users)) * day
    true = np.full(users, "True")
    _csv(f"{tmp}/users.csv", {
        "UID": uid, "Name": np.array(FIRST)[u % len(FIRST)],
        "LastName": np.array(LAST)[(u * 7) % len(LAST)],
        "Gender": np.where(rng.random(users) < 0.5, "Male", "Female"),
        "Unit": np.ones(users, np.int64), "Birthday": birthday, "Age": age,
        "Height": height, "CreatedDate": created, "IsActive": true,
        "ClinicID": rng.choice(CLINICS, users, p=CLINIC_P),
        "loginId": pa.nulls(users, pa.float64()), "success": true})

    start = created + rng.integers(0, 14, users) * day
    second = rng.random(users) < 0.1  # a second treatment for some users
    t_uid = np.concatenate([uid, uid[second]])
    order = np.argsort(np.concatenate([u, u[second]]), kind="stable")
    _csv(f"{tmp}/treatments.csv", {
        "MasterUserID": t_uid[order],
        "TreatmentTypeID": np.concatenate([np.ones(users, np.int64),
                                           np.full(second.sum(), 2, np.int64)])[order],
        "StartDate": np.concatenate([start, start[second] + rng.integers(28, 56, second.sum())
                                     * day])[order]})

    # 20-44 distinct day offsets per user: a few before the start, most
    # in the 12 weeks after it
    counts = rng.integers(20, 45, users)
    offsets = np.arange(-14, 84)
    # each user's first `count` entries of a random permutation, sorted
    perm = np.argsort(rng.random((users, offsets.size)), axis=1)
    keep = np.arange(offsets.size)[None, :] < counts[:, None]
    chosen = np.sort(np.where(keep, perm, offsets.size), axis=1)
    d = offsets[chosen[chosen < offsets.size]]
    wu = np.repeat(u, counts)
    n = wu.size
    w0 = rng.uniform(55.0, 120.0, users)
    trend = rng.uniform(-0.08, 0.02, users)
    weight = np.round(w0[wu] + trend[wu] * d + rng.normal(0, 0.6, n), 1)
    when = start[wu] + d * day
    _csv(f"{tmp}/weights.csv", {
        "MasterUserID": uid[wu], "Weight": weight,
        "BMI": np.round(weight / (height[wu] / 100.0) ** 2, 1),
        "BodyFat": np.round(rng.uniform(15, 40, n), 1),
        "BodyWater": np.round(rng.uniform(45, 65, n), 1),
        "Bone": np.round(rng.uniform(2.2, 3.6, n), 1),
        "VisceralFat": np.round(rng.uniform(5, 15, n), 1),
        "BMR": np.round(rng.uniform(1200, 2200, n), 1),
        "MuscleMass": np.round(rng.uniform(35, 70, n), 1),
        "CreatedDate": when, "UpdatedDate": when,
        "IsActive": np.full(n, "True"), "IsDelete": np.full(n, "False")})
    _publish(tmp, out)
    return n


def _csv(path, cols):
    """CSV in the reference's text form: `yyyy-MM-dd HH:mm:ss` times,
    unquoted fields, empty nulls."""
    arrays = {}
    for k, v in cols.items():
        if isinstance(v, np.ndarray) and v.dtype.kind == "M":
            v = pa.array(v.astype("datetime64[s]")).cast(pa.string())
        arrays[k] = v if isinstance(v, pa.Array) else pa.array(v)
    with open(path, "wb") as f:
        f.write((",".join(arrays) + "\n").encode())
        pacsv.write_csv(pa.table(arrays), f,
                        pacsv.WriteOptions(include_header=False, quoting_style="none"))


WORDS = ("a the big small fast slow key value row column table part line order "
         "customer data query scan filter join group agg sort hash merge window "
         "stream batch spark vector").split()
P_ADJ = ["red", "blue", "old", "new", "cold", "hot", "small", "large"]
P_NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(rng, lo, hi, n, whole_days=True):
    """n timestamps uniform in [lo, hi] (datetime64[us])."""
    lo_us = np.datetime64(lo, "us").astype(np.int64)
    hi_us = np.datetime64(hi, "us").astype(np.int64)
    if whole_days:
        days = rng.integers(0, (hi_us - lo_us) // 86_400_000_000 + 1, n)
        return (lo_us + days * 86_400_000_000).astype("datetime64[us]")
    return rng.integers(lo_us, hi_us, n).astype("datetime64[us]")


def tables(out, seed):
    """Write the ten sf0.01-shaped parquet tables."""
    rng = np.random.default_rng(seed)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), f"{tmp}/{name}.parquet")

    i32, i64 = pa.int32(), pa.int64()
    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": pa.array(REGIONS)})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n_c, n_s, n_p, n_o, n_l = 1500, 100, 2000, 15000, 60000
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    put("customer", {
        "c_custkey": pa.array(np.arange(n_c), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": pa.array(rng.choice(segs, n_c))})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_s), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2)})
    put("part", {
        "p_partkey": pa.array(np.arange(n_p), i64),
        "p_name": pa.array([f"{rng.choice(P_ADJ)} {rng.choice(P_NOUN)}" for _ in range(n_p)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_p)),
        "p_size": pa.array(rng.integers(1, 51, n_p), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_o), i64),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_o)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o))})
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) * 0.01, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_l)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_l)),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n_l)})
    n_e = 10000
    ts = np.sort(_ts(rng, "2024-01-01", "2024-01-31", n_e, whole_days=False))
    put("events", {
        "event_id": pa.array(np.arange(n_e), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 150, n_e), i64),
        "event_type": pa.array(rng.choice(["click", "signup", "error", "view", "purchase"], n_e)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)])})
    n_d = 500
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_d)]
    put("documents", {
        "doc_id": pa.array(np.arange(n_d), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_d)),
        "source": pa.array([f"src{i % 20}" for i in range(n_d)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    n_v, dim = 500, 64
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(0, 0.1, (10, dim))
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_v, dim))).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_v), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    _publish(tmp, out)


TABLE_ROWS = 5 + 25 + 1500 + 100 + 2000 + 15000 + 60000 + 10000 + 500 + 500
