"""Seeded input generation for the three workloads.

Every input is a pure function of (workload, seed, size). Generated sets
live under the checkout's `.bench_data/inputs/` and are made once per key;
each set's `inputs.json` records its sizes (files, bytes, entries,
references, docs) and the truth its outputs are checked against:

- fhir_load: FHIR bundle JSON files (all 11 routed resource types, forward
  and backward references, about 1% malformed files), a cousub dim with
  " Town" names and a disease dim with NULL `disease_id`; truth = the
  rawstat rows, the three fact tables and per-collection counts, computed
  here from the generated patients, never by the engine under test.
- query_mix: the star schema plus `events` in the testdata shape, and a
  `documents`/`embeddings` corpus from `graft.tools.GenCorpus`; truth =
  each query's DuckDB oracle digest.
- corpus_pipeline: a `GenCorpus` corpus in skew mode; truth = the DuckDB
  digest of the x43 pipeline oracle, which is exactly what the pipeline
  writes.
"""
import datetime
import json
import os
import random
import shutil

import benchlib

AS_OF = datetime.date(2026, 1, 1)

# ---------------------------------------------------------------- FHIR

CITIES = ["Springfield", "Shelbyville", "Ogden", "Agawam", "Quincy",
          "Amherst", "Boxford", "Chatham", "Dover", "Easton", "Falmouth",
          "Granby", "Hadley", "Ipswich", "Lenox", "Milton"]
# cities the cousub dim knows; every third is stored with a " Town" suffix
# that the loader strips; the rest of CITIES miss the dim (zero values)
DIM_CITIES = CITIES[:12]
SNOMED = "http://snomed.info/sct"
# (code, condition_id, disease_id) — None = NULL disease id (-999 sentinel)
CONDITION_CODES = [
    ("44054006", 1, 10), ("38341003", 2, 11), ("195662009", 3, None),
    ("10509002", 4, 12), ("271737000", 5, 13), ("40055000", 6, 10),
    ("233604007", 7, None), ("68496003", 8, 14), ("72892002", 9, 15),
    ("15777000", 10, 11)]
UNKNOWN_CODES = ["999000001", "999000002"]   # absent from the dim
PRACTITIONERS = ["Practitioner/%d" % i for i in range(20)]


def _cs_fips(i):
    return "25%03d%05d" % (i, 1000 + i * 7)


def _ct_fips(i):
    return "25%03d" % (i % 5)


def _long_tail(rnd, mean):
    """Pareto-ish count: most bundles small, a few large."""
    return min(int(rnd.paretovariate(1.6) * mean * 0.4), mean * 25)


def _bundle(rnd, b):
    """One bundle as (entries, patient facts, reference count)."""
    entries = []
    refs = 0

    def url(kind, i):
        return "urn:uuid:%s-%d-%d" % (kind, b, i)

    pid = url("p", 0)
    gender = rnd.choice(["male", "female", "male", "female", "other"])
    birth = datetime.date(1925 + rnd.randrange(95), 1 + rnd.randrange(12),
                          1 + rnd.randrange(28))
    city = rnd.choice(CITIES)
    zipcode = "0%04d" % (1000 + rnd.randrange(999))
    patient = {"resourceType": "Patient", "gender": gender,
               "birthDate": birth.isoformat(),
               "address": [{"city": city, "postalCode": zipcode,
                            "state": "MA"}]}
    d = rnd.random()
    if d < 0.05:
        patient["deceasedDateTime"] = "2019-03-04T05:06:07Z"
        deceased = True
    elif d < 0.10:
        patient["deceasedBoolean"] = True
        deceased = True
    elif d < 0.20:
        patient["deceasedBoolean"] = False
        deceased = False
    else:
        deceased = None
    entries.append({"fullUrl": pid, "resource": patient})

    n_enc = 1 + _long_tail(rnd, 3)
    n_cond = rnd.randrange(5) if rnd.random() < 0.8 else 0
    cond_urls = [url("c", i) for i in range(n_cond)]
    codes = []
    enc_urls = [url("e", i) for i in range(n_enc)]
    body = []
    for i, cu in enumerate(cond_urls):
        if rnd.random() < 0.1:
            code = rnd.choice(UNKNOWN_CODES)
        else:
            code = rnd.choice(CONDITION_CODES)[0]
        codes.append(code)
        res = {"resourceType": "Condition",
               "code": {"coding": [{"system": SNOMED, "code": code,
                                    "display": "c" + code}]},
               "clinicalStatus": "active",
               "subject": {"reference": pid},
               "context": {"reference": rnd.choice(enc_urls)}}
        refs += 2
        body.append({"fullUrl": cu, "resource": res})
    for i, eu in enumerate(enc_urls):
        body.append({"fullUrl": eu, "resource": {
            "resourceType": "Encounter", "status": "finished",
            "class": {"code": "AMB"},
            "subject": {"reference": pid},
            "performer": [{"actor": {"reference": rnd.choice(PRACTITIONERS)}}]}})
        refs += 2
        n_obs = rnd.randrange(4)
        obs_urls = [url("o%d" % i, k) for k in range(n_obs)]
        if obs_urls and rnd.random() < 0.5:
            # forward references: the report precedes its results
            body.append({"fullUrl": url("r", i), "resource": {
                "resourceType": "DiagnosticReport", "status": "final",
                "subject": {"reference": pid},
                "context": {"reference": eu},
                "result": [{"reference": o} for o in obs_urls]}})
            refs += 2 + len(obs_urls)
        for o in obs_urls:
            body.append({"fullUrl": o, "resource": {
                "resourceType": "Observation", "status": "final",
                "subject": {"reference": pid},
                "context": {"reference": eu},
                "valueQuantity": {"value": round(rnd.uniform(1, 200), 2),
                                  "unit": "mg"}}})
            refs += 2
        if rnd.random() < 0.3:
            body.append({"fullUrl": url("pr", i), "resource": {
                "resourceType": "Procedure", "status": "completed",
                "subject": {"reference": pid},
                "context": {"reference": eu}}})
            refs += 2
        if rnd.random() < 0.25:
            mr = {"resourceType": "MedicationRequest", "status": "active",
                  "subject": {"reference": pid},
                  "context": {"reference": eu},
                  "requester": {"agent": {
                      "reference": rnd.choice(PRACTITIONERS)}}}
            refs += 3
            if cond_urls:
                mr["reasonReference"] = [{"reference": rnd.choice(cond_urls)}]
                refs += 1
            body.append({"fullUrl": url("m", i), "resource": mr})
    if rnd.random() < 0.3:
        body.append({"fullUrl": url("im", 0), "resource": {
            "resourceType": "Immunization", "status": "completed",
            "patient": {"reference": pid},
            "encounter": {"reference": rnd.choice(enc_urls)}}})
        refs += 2
    if rnd.random() < 0.2:
        body.append({"fullUrl": url("a", 0), "resource": {
            "resourceType": "AllergyIntolerance",
            "patient": {"reference": pid}}})
        refs += 1
    if rnd.random() < 0.2:
        body.append({"fullUrl": url("cp", 0), "resource": {
            "resourceType": "CarePlan", "status": "active",
            "subject": {"reference": pid},
            "context": {"reference": rnd.choice(enc_urls)}}})
        refs += 2
    if rnd.random() < 0.02:
        body.append({"fullUrl": url("b", 0), "resource": {
            "resourceType": "Bundle"}})
    # backward references dominate: the patient leads; conditions may
    # follow the medication requests that cite them
    rnd.shuffle(body)
    entries.extend(body)
    facts = {"gender": gender, "birth": birth, "city": city,
             "zipcode": zipcode, "deceased": deceased, "codes": codes}
    return entries, facts, refs


def _age(birth):
    not_yet = (AS_OF.month, AS_OF.day) < (birth.month, birth.day)
    return AS_OF.year - birth.year - (1 if not_yet else 0)


COLLECTIONS = {
    "AllergyIntolerance": "allergyintolerances", "CarePlan": "careplans",
    "Condition": "conditions", "DiagnosticReport": "diagnosticreports",
    "Encounter": "encounters", "Immunization": "immunizations",
    "MedicationRequest": "medicationrequests",
    "Observation": "observations", "Patient": "patients",
    "Procedure": "procedures", "Bundle": "bundles"}


def gen_fhir(out, seed, n_bundles):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rnd = random.Random(seed * 1000003 + 17)
    bdir = os.path.join(out, "bundles")
    sizes = {"files": 0, "bytes": 0, "entries": 0, "references": 0,
             "bundles_valid": 0, "bundles_malformed": 0}
    patients = []
    collections = {}
    for b in range(n_bundles):
        entries, facts, refs = _bundle(rnd, b)
        text = json.dumps({"resourceType": "Bundle", "type": "transaction",
                           "entry": entries}, indent=1)
        malformed = rnd.random() < 0.01
        if malformed:
            text = text[: len(text) // 2]
            sizes["bundles_malformed"] += 1
        else:
            sizes["bundles_valid"] += 1
            sizes["entries"] += len(entries)
            sizes["references"] += refs
            patients.append(facts)
            for e in entries:
                c = COLLECTIONS[e["resource"]["resourceType"]]
                collections[c] = collections.get(c, 0) + 1
        d = os.path.join(bdir, "shard%02d" % (b % 16))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "b%06d.json" % b), "w") as f:
            f.write(text)
        sizes["files"] += 1
        sizes["bytes"] += len(text.encode("utf-8"))

    cousub_rows = []
    for i, c in enumerate(DIM_CITIES):
        name = c + " Town" if i % 3 == 0 else c
        cousub_rows.append((name, _ct_fips(i), _cs_fips(i)))
    pq.write_table(pa.table({
        "cs_name": [r[0] for r in cousub_rows],
        "ct_fips": [r[1] for r in cousub_rows],
        "cs_fips": [r[2] for r in cousub_rows]}),
        os.path.join(out, "cousub.parquet"))
    pq.write_table(pa.table({
        "code_system": pa.array([SNOMED] * len(CONDITION_CODES)),
        "code": pa.array([c[0] for c in CONDITION_CODES]),
        "condition_id": pa.array([c[1] for c in CONDITION_CODES],
                                 pa.int32()),
        "disease_id": pa.array([c[2] for c in CONDITION_CODES],
                               pa.int32())}),
        os.path.join(out, "disease.parquet"))

    truth = fhir_truth(patients)
    truth["collections"] = dict(sorted(collections.items()))
    truth["references"] = sizes["references"]
    truth["bundles_valid"] = sizes["bundles_valid"]
    return sizes, truth


def fhir_truth(patients):
    """Rawstat and fact digests from the generated patients alone."""
    city_dim = {c: (_ct_fips(i), _cs_fips(i))
                for i, c in enumerate(DIM_CITIES)}
    code_dim = {c[0]: (c[1], -999 if c[2] is None else c[2])
                for c in CONDITION_CODES}
    raw = []
    pop, dis, cond = {}, {}, {}

    def bump(table, key, gender):
        row = table.setdefault(key, [0, 0, 0])
        row[0] += 1
        row[1] += gender == "male"
        row[2] += gender == "female"

    for p in patients:
        ct, cs = city_dim.get(p["city"], ("", ""))
        looked = [code_dim.get(c, (0, 0)) for c in p["codes"]]
        uconds = sorted({x[0] for x in looked})
        udis = sorted({x[1] for x in looked})
        raw.append({"age": _age(p["birth"]), "gender": p["gender"],
                    "deceasedboolean": p["deceased"], "city": p["city"],
                    "zipcode": p["zipcode"], "countyid_fips": ct,
                    "subcountyid_fips": cs, "uniqueconditions": uconds,
                    "uniquediseases": udis})
        if p["deceased"]:
            continue
        bump(pop, (cs, 1), p["gender"])
        for x in udis:
            if x > 0:
                bump(dis, (cs, x, 1), p["gender"])
        for x in uconds:
            if x > 0:
                bump(cond, (cs, x, 1), p["gender"])

    def rows(table, keys):
        return [dict(zip(keys, k), pop=v[0], pop_male=v[1], pop_female=v[2])
                for k, v in table.items()]

    return {
        "rawstat_rows": len(raw),
        "rawstat": benchlib.digest_dicts(raw),
        "synth_pop_facts": benchlib.digest_dicts(
            rows(pop, ["cs_fips", "age_id"])),
        "synth_disease_facts": benchlib.digest_dicts(
            rows(dis, ["cs_fips", "disease_id", "age_id"])),
        "synth_condition_facts": benchlib.digest_dicts(
            rows(cond, ["cs_fips", "condition_id", "age_id"])),
    }

# ------------------------------------------------------ star + events

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "red", "small", "large", "green", "shiny", "old", "new"]
NOUN = ["ring", "widget", "bolt", "anvil", "gear", "nut", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def gen_star(out, seed, scale):
    """The testdata star schema and `events`, `scale` = 1 for sf0.01."""
    import numpy as np
    import pandas as pd
    g = np.random.default_rng(seed * 7919 + 3)

    def write(name, cols):
        pd.DataFrame(cols).to_parquet(
            os.path.join(out, name + ".parquet"), index=False)

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc, ns, npart, no = 1500 * scale, 100 * scale, 2000 * scale, 15000 * scale
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(nc)],
        "c_nationkey": g.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": g.choice(SEGMENTS, nc)})
    write("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(ns)],
        "s_nationkey": g.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, ns), 2)})
    write("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [ADJ[a] + " " + NOUN[b] for a, b in
                   zip(g.integers(0, 8, npart), g.integers(0, 8, npart))],
        "p_brand": ["Brand#%d" % b for b in g.integers(1, 26, npart)],
        "p_type": g.choice(PTYPES, npart),
        "p_size": g.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 1)})
    base = np.datetime64("1995-01-01T00:00:00", "us")
    day = np.timedelta64(86400 * 10 ** 6, "us")
    odate = base + g.integers(0, 2400, no) * day
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": g.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": g.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(g.uniform(1000, 500000, no), 2),
        "o_orderdate": odate,
        "o_orderpriority": g.choice(PRIORITIES, no)})
    lines = g.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    nl = len(okey)
    starts = np.cumsum(lines) - lines
    lnum = (np.arange(nl) - np.repeat(starts, lines) + 1).astype(np.int32)
    qty = g.integers(1, 51, nl).astype(np.float64)
    pkey = g.integers(0, npart, nl).astype(np.int64)
    price = 900 + (pkey % 1000) / 10.0
    write("lineitem", {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": g.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price * g.uniform(0.98, 1.02, nl),
                                    2),
        "l_discount": np.round(np.clip(np.round(g.normal(5, 3, nl)), 0, 10)
                               / 100.0, 2),
        "l_tax": np.round(np.clip(np.round(g.normal(4, 2.5, nl)), 0, 8)
                          / 100.0, 2),
        "l_returnflag": g.choice(["A", "N", "R"], nl),
        "l_linestatus": g.choice(["F", "O"], nl),
        "l_shipdate": np.repeat(odate, lines)
        + g.integers(1, 122, nl) * day})
    ne = 10000 * scale
    step = (30 * 86400 * 10 ** 6) // ne
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.cumsum(g.integers(1, 2 * step, ne)).astype("timedelta64[us]"))
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": g.integers(0, 150, ne).astype(np.int64),
        "event_type": g.choice(EVENT_TYPES, ne),
        "value": np.round(g.uniform(0.01, 490.0, ne), 2),
        "props": ['{"k": %d}' % k for k in g.integers(0, 100, ne)]})
    return {"lineitem_rows": nl, "orders_rows": no, "events_rows": ne}


def corpus_to_parquet(jsonl_dir, out):
    """Convert the JVM generator's JSON lines (floats as raw bits) into
    the testdata's parquet schema."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    docs = [json.loads(x) for x in open(os.path.join(jsonl_dir,
                                                     "documents.jsonl"))]
    pq.write_table(pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": pa.array([d["text"] for d in docs], pa.string()),
        "lang": pa.array([d["lang"] for d in docs], pa.string()),
        "source": pa.array([d["source"] for d in docs], pa.string()),
        "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64())}),
        os.path.join(out, "documents.parquet"))
    vecs = [json.loads(x) for x in open(os.path.join(jsonl_dir,
                                                     "embeddings.jsonl"))]
    emb = [np.array(v["bits"], dtype=np.uint32).view(np.float32).tolist()
           for v in vecs]
    pq.write_table(pa.table({
        "vec_id": pa.array([v["vec_id"] for v in vecs], pa.int64()),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
        "label": pa.array([v["label"] for v in vecs], pa.int32())}),
        os.path.join(out, "embeddings.parquet"))
    return {"docs": len(docs), "vecs": len(vecs),
            "doc_bytes": sum(len(d["text"].encode("utf-8")) for d in docs)}


def oracle_digests(data_dir, sql_by_name, tmp):
    """Run each oracle SQL in DuckDB over `data_dir` and digest it; DuckDB
    spills under `tmp`."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO %d" % len(os.sched_getaffinity(0)))
    con.execute("SET temp_directory = '%s'" % tmp)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    by_sql = {}
    for name, sql in sql_by_name.items():
        if sql not in by_sql:   # several queries share one oracle
            rel = con.sql(sql)
            by_sql[sql] = benchlib.digest_rows(rel.columns, rel.fetchall())
    return {name: by_sql[sql] for name, sql in sql_by_name.items()}


def dir_size(path):
    files = 0
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            total += os.path.getsize(os.path.join(root, n))
    return files, total


def reset_dir(path):
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
