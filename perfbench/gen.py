"""Seeded input generators for the benchmark workloads, and the expected
values each input implies. Everything here is a pure function of the seed
and the sizes, so two runs with one seed produce byte-identical files.

- FHIR R4 bundles, one patient per file, Synthea-shaped, with a planted share
  of resources repeated in the next patient's bundle (dedup has work to do).
- Three 400-tree, 14-feature binary:logistic ensembles in the xgboost JSON
  layout that graft.ml.XgbModel.load reads.
- A word-soup corpus in the documents/embeddings schema of the suite's test
  data (same vocabulary, length, language and source mix, planted
  near-duplicates, 64-d unit vectors around 10 label centres).
"""
import hashlib
import json
import math
import os
import random
import zlib
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REFERENCE_DATE = (2025, 1, 1)

# display name -> (feature column, low, high, unit); values have one decimal
ANALYTES = {
    "Albumin [Mass/volume] in Serum or Plasma": ("albumin_latest", 3.0, 5.5, "g/dL"),
    "Alanine aminotransferase [Enzymatic activity/volume] in Serum or Plasma": ("alt_latest", 10, 80, "U/L"),
    "Aspartate aminotransferase [Enzymatic activity/volume] in Serum or Plasma": ("ast_latest", 10, 80, "U/L"),
    "Bilirubin.total [Mass/volume] in Serum or Plasma": ("bilirubin_latest", 0.2, 2.0, "mg/dL"),
    "Urea nitrogen [Mass/volume] in Serum or Plasma": ("bun_latest", 5, 30, "mg/dL"),
    "Cholesterol [Mass/volume] in Serum or Plasma": ("cholesterol_total_latest", 140, 300, "mg/dL"),
    "Creatinine [Mass/volume] in Serum or Plasma": ("creatinine_latest", 0.5, 2.0, "mg/dL"),
    "Glomerular filtration rate/1.73 sq M.predicted": ("egfr_latest", 20, 120, "mL/min"),
    "Glomerular filtration rate/1.73 sq M.predicted [Volume Rate/Area] in Serum, Plasma or Blood by Creatinine-based formula (MDRD)": ("egfr_latest", 20, 120, "mL/min"),
    "Glucose [Mass/volume] in Blood": ("glucose_latest", 65, 200, "mg/dL"),
    "Hemoglobin A1c/Hemoglobin.total in Blood": ("hba1c_latest", 4.5, 9.0, "%"),
    "Cholesterol in HDL [Mass/volume] in Serum or Plasma": ("hdl_latest", 25, 80, "mg/dL"),
    "Hematocrit [Volume Fraction] of Blood by Automated count": ("hematocrit_latest", 30, 52, "%"),
    "Hematocrit [Volume Fraction] of Blood": ("hematocrit_latest", 30, 52, "%"),
    "Hemoglobin [Mass/volume] in Blood": ("hemoglobin_latest", 9, 17.5, "g/dL"),
    "Low Density Lipoprotein Cholesterol": ("ldl_latest", 60, 200, "mg/dL"),
    "Protein [Mass/volume] in Serum or Plasma": ("protein_latest", 5.5, 8.5, "g/dL"),
    "Erythrocyte distribution width [Entitic volume] by Automated count": ("rdw_latest", 11, 17, "fL"),
    "Erythrocyte distribution width [Ratio] by Automated count": ("rdw_latest", 11, 17, "%"),
    "Triglycerides": ("triglycerides_latest", 60, 300, "mg/dL"),
}
URINE = ["Glucose [Mass/volume] in Urine by Test strip",
         "Glucose [Presence] in Urine by Test strip"]
URINE_VALUES = ["Negative", "negative ", "Trace", " trace", "Positive", "pos", "neg"]
HDL = "Cholesterol in HDL [Mass/volume] in Serum or Plasma"
LDL = "Low Density Lipoprotein Cholesterol"
TRIG = "Triglycerides"
CHOL = "Cholesterol [Mass/volume] in Serum or Plasma"
A1C = "Hemoglobin A1c/Hemoglobin.total in Blood"
GLU = "Glucose [Mass/volume] in Blood"
CVD_DISPLAYS = [HDL, LDL, TRIG, CHOL]

MODEL_COLUMNS = ["age", "sex", "bun_latest", "cholesterol_total_latest",
                 "creatinine_latest", "egfr_latest", "glucose_latest", "hba1c_latest",
                 "hdl_latest", "hematocrit_latest", "hemoglobin_latest", "ldl_latest",
                 "triglycerides_latest", "cluster"]

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3


def _uuid(rng):
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _value(rng, lo, hi):
    return round(rng.uniform(lo, hi), 1)


def _write_json(path, obj):
    with open(path, "w") as f:
        f.write(json.dumps(obj, separators=(",", ":")))


# ---------------------------------------------------------------- clinical

def _patient(rng, pid):
    year, month = rng.randint(1940, 2004), rng.randint(1, 12)
    return {
        "resourceType": "Patient", "id": pid,
        "gender": rng.choice(["male", "female"]),
        "birthDate": f"{year:04d}-{month:02d}-01",
        "address": [{
            "line": [f"{rng.randint(1, 999)} Main St"],
            "city": rng.choice(["Boston", "Worcester", "Springfield", "Lowell"]),
            "state": "MA", "postalCode": f"0{rng.randint(1000, 2799)}", "country": "US",
            "extension": [{"url": "geolocation", "extension": [
                {"url": "latitude", "valueDecimal": round(rng.uniform(41, 43), 6)},
                {"url": "longitude", "valueDecimal": round(rng.uniform(-73, -70), 6)}]}]}],
        "extension": [
            {"url": "us-core-race", "extension": [
                {"url": "ombCategory", "valueString": "2106-3"},
                {"url": "text", "valueString": rng.choice(["White", "Black", "Asian", "Other"])}]},
            {"url": "us-core-ethnicity", "extension": [
                {"url": "ombCategory", "valueString": "2186-5"},
                {"url": "text", "valueString": rng.choice(["Hispanic", "Non Hispanic"])}]}],
    }


def _encounter(rng, eid, pid, day):
    start = f"{day}T{rng.randint(8, 16):02d}:{rng.randint(0, 59):02d}:00Z"
    return {
        "resourceType": "Encounter", "id": eid, "status": "finished",
        "class": {"code": rng.choice(["AMB", "EMER", "IMP"])},
        "type": [{"text": rng.choice(["General examination", "Check up", "Follow-up"])}],
        "subject": {"reference": f"urn:uuid:{pid}"},
        "period": {"start": start, "end": start},
        "location": [{"location": {"display": rng.choice(["Clinic A", "Clinic B", "Hospital C"])}}],
        "serviceProvider": {"display": "General Hospital"},
        "participant": [{"individual": {"display": f"Dr. {rng.choice(['Ames', 'Bell', 'Cruz'])}"},
                         "type": [{"text": "primary performer"}]}],
    }


def _condition(rng, cid, pid, eid, day):
    code, display = rng.choice([("44054006", "Diabetes"), ("38341003", "Hypertension"),
                                ("55822004", "Hyperlipidemia"), ("431855005", "Chronic kidney disease")])
    return {
        "resourceType": "Condition", "id": cid,
        "subject": {"reference": f"urn:uuid:{pid}"},
        "encounter": {"reference": f"urn:uuid:{eid}"},
        "code": {"coding": [{"system": "http://snomed.info/sct", "code": code, "display": display}],
                 "text": display},
        "clinicalStatus": {"coding": [{"code": "active"}]},
        "verificationStatus": {"coding": [{"code": "confirmed"}]},
        "onsetDateTime": f"{day}T00:00:00Z", "recordedDate": f"{day}T00:00:00Z",
    }


def _observation(rng, oid, pid, eid, display, when, value):
    obs = {
        "resourceType": "Observation", "id": oid, "status": "final",
        "category": [{"coding": [{"display": "laboratory"}]}],
        "code": {"coding": [{"system": "http://loinc.org", "code": str(zlib.crc32(display.encode()) % 99999),
                             "display": display}], "text": display},
        "subject": {"reference": f"urn:uuid:{pid}"},
        "encounter": {"reference": f"urn:uuid:{eid}"},
        "effectiveDateTime": when,
    }
    if isinstance(value, str):
        obs["valueString"] = value
    else:
        obs["valueQuantity"] = {"value": value, "unit": ANALYTES[display][3]}
    return obs


def clinical(out, seed, n_patients, dup_share):
    """Writes bundles/, models/ and meta.json under `out`; returns meta."""
    rng = random.Random(seed)
    os.makedirs(f"{out}/bundles", exist_ok=True)
    bundles = []  # per patient: list of resources
    truth = []    # per patient: (patient, [observations])
    displays = list(ANALYTES) + URINE
    for _ in range(n_patients):
        pid = _uuid(rng)
        pat = _patient(rng, pid)
        res = [pat]
        obs_all = []
        # a fixed shape per patient, so every seed gives the same volume:
        # 3 encounters of 10 observations each, 1 condition
        days = sorted(rng.sample(range(0, 3000), 3))
        for k, d in enumerate(days):
            y, rem = divmod(d, 360)
            day = f"{2015 + y:04d}-{rem // 30 + 1:02d}-{rem % 30 + 1:02d}"
            eid = _uuid(rng)
            res.append(_encounter(rng, eid, pid, day))
            if k == 0:
                res.append(_condition(rng, _uuid(rng), pid, eid, day))
                # every patient has a CVD and a T2D analyte
                chosen = [HDL, A1C] + rng.sample([x for x in displays if x not in (HDL, A1C)], 8)
            else:
                chosen = rng.sample(displays, 10)
            for i, disp in enumerate(chosen):
                when = f"{day}T09:{i:02d}:00Z"
                if disp in URINE:
                    v = rng.choice(URINE_VALUES)
                else:
                    _, lo, hi, _ = ANALYTES[disp]
                    v = _value(rng, lo, hi)
                o = _observation(rng, _uuid(rng), pid, eid, disp, when, v)
                res.append(o)
                obs_all.append(o)
        bundles.append(res)
        truth.append((pat, obs_all))

    # planted repeats: a share of each bundle's resources also appears,
    # unchanged, in the next patient's bundle
    extra = [[] for _ in range(n_patients)]
    for i, res in enumerate(bundles):
        extra[(i + 1) % n_patients] += rng.sample(res, round(dup_share * len(res)))
    n_resources = 0
    for i, res in enumerate(bundles):
        entries = res + extra[i]
        n_resources += len(entries)
        _write_json(f"{out}/bundles/patient_{i:05d}.json", {
            "resourceType": "Bundle", "type": "transaction",
            "entry": [{"resource": r} for r in entries]})

    tables = {t: sum(1 for res in bundles for r in res if r["resourceType"] == rt)
              for t, rt in [("patient", "Patient"), ("encounter", "Encounter"),
                            ("condition", "Condition"), ("observation", "Observation")]}

    os.makedirs(f"{out}/models", exist_ok=True)
    models = {}
    for j, disease in enumerate(["cvd", "ckd", "anemia"]):
        models[disease] = ensemble(random.Random(seed * 7 + j), 400)
        _write_json(f"{out}/models/{disease}.json", models[disease])

    sample = sorted(p["id"] for p, _ in truth)[:12]
    by_pid = {p["id"]: (p, obs) for p, obs in truth}
    meta = {
        "resources": n_resources,
        "tables": tables,
        "patients": n_patients,
        "cvd_bands": _bands([_cvd_risk(obs) for _, obs in truth]),
        "t2d_bands": _bands([_t2d_risk(obs) for _, obs in truth]),
        "sample_patients": sample,
        "sample_expected": {pid: _score(by_pid[pid], models) for pid in sample},
    }
    _write_json(f"{out}/meta.json", meta)
    return meta


def _latest(obs):
    """display -> value of the latest observation (times are unique)."""
    best = {}
    for o in obs:
        d = o["code"]["coding"][0]["display"]
        if d not in best or o["effectiveDateTime"] > best[d]["effectiveDateTime"]:
            best[d] = o
    return {d: o.get("valueQuantity", {}).get("value", o.get("valueString"))
            for d, o in best.items()}


def _bands(labels):
    return dict(Counter(labels))


def _cvd_risk(obs):
    v = _latest(obs)
    hdl, ldl, trig, chol = (v.get(d) for d in CVD_DISPLAYS)
    if ((ldl is not None and ldl >= 130) or (trig is not None and trig >= 150)
            or (hdl is not None and hdl < 40) or (chol is not None and chol >= 240)):
        return "At risk"
    if hdl is None and ldl is None and trig is None and chol is None:
        return "Insufficient data"
    return "Likely normal"


def _t2d_risk(obs):
    v = _latest(obs)
    a1c, glu = v.get(A1C), v.get(GLU)
    urine = [v[d].strip().lower() for d in URINE if d in v]
    txt = max(urine) if urine else None
    if (a1c is not None and a1c >= 6.5) or (glu is not None and glu >= 126) or txt in ("positive", "pos"):
        return "Diabetes likely (lab criteria met)"
    if ((a1c is not None and 5.7 <= a1c <= 6.4) or (glu is not None and 100 <= glu <= 125)
            or txt == "trace"):
        return "Prediabetes / Elevated risk"
    if a1c is None and glu is None and txt is None:
        return "Insufficient data"
    return "Normal"


# ---------------------------------------------------------------- models

def ensemble(rng, n_trees):
    """A random binary:logistic ensemble over the 14 model columns. Split
    thresholds and leaves are exactly representable as float32, so every
    reader agrees on them."""
    ranges = {"age": (20, 90), "sex": (0, 1), "cluster": (0, 3)}
    for feat, lo, hi, _ in ANALYTES.values():
        ranges[feat] = (lo, hi)
    trees = []
    for t in range(n_trees):
        depth = rng.randint(4, 6)
        n_nodes = 2 ** (depth + 1) - 1
        first_leaf = 2 ** depth - 1
        idx, cond, left, right, dleft, parents = [], [], [], [], [], []
        for i in range(n_nodes):
            parents.append(2147483647 if i == 0 else (i - 1) // 2)
            if i < first_leaf:
                f = rng.randrange(len(MODEL_COLUMNS))
                lo, hi = ranges[MODEL_COLUMNS[f]]
                idx.append(f)
                cond.append(round(rng.uniform(lo, hi) * 8) / 8)
                left.append(2 * i + 1)
                right.append(2 * i + 2)
                dleft.append(rng.randint(0, 1))
            else:
                idx.append(0)
                cond.append(rng.randint(-64, 64) / 1024)
                left.append(-1)
                right.append(-1)
                dleft.append(0)
        trees.append({
            "id": t, "tree_param": {"num_nodes": str(n_nodes), "size_leaf_vector": "1",
                                    "num_feature": "14", "num_deleted": "0"},
            "split_indices": idx, "split_conditions": cond,
            "left_children": left, "right_children": right, "default_left": dleft,
            "parents": parents, "split_type": [0] * n_nodes,
            "base_weights": cond, "loss_changes": [0.0] * n_nodes,
            "sum_hessian": [1.0] * n_nodes,
            "categories": [], "categories_nodes": [], "categories_segments": [],
            "categories_sizes": []})
    return {"learner": {
        "attributes": {},
        "feature_names": MODEL_COLUMNS,
        "gradient_booster": {"name": "gbtree", "model": {
            "gbtree_model_param": {"num_trees": str(n_trees), "num_parallel_tree": "1"},
            "tree_info": [0] * n_trees, "iteration_indptr": list(range(n_trees + 1)),
            "trees": trees}},
        "learner_model_param": {"base_score": "[4E-1]", "num_class": "0",
                                "num_feature": "14", "num_target": "1"},
        "objective": {"name": "binary:logistic", "reg_loss_param": {"scale_pos_weight": "1"}}},
        "version": [3, 1, 2]}


def _score(patient_obs, models):
    """Reference implementation of graft.ml.Scorer.inferAll for one patient:
    latest-per-analyte features, median impute, standardize, PCA, nearest
    k-means centre, then each ensemble's tree walk (float32 compares)."""
    pat, obs = patient_obs
    with open("src/main/resources/graft/ml/pipeline_params.json") as f:
        p = json.load(f)
    latest = _latest(obs)
    feats = {}
    for disp, (key, _, _, _) in ANALYTES.items():
        if disp in latest:
            feats[key] = max(feats.get(key, -math.inf), latest[disp])
    y, m, _ = (int(x) for x in pat["birthDate"].split("-"))
    feats["age"] = float(((REFERENCE_DATE[0] - y) * 12 + (REFERENCE_DATE[1] - m)) // 12)
    feats["sex"] = 1.0 if pat["gender"].strip().upper().startswith("M") else 0.0
    x = {f: (feats[f] if feats.get(f) is not None else med)
         for f, med in zip(p["features"], p["imputer_medians"])}
    scaled = [(x[f] - p["scaler_mean"][j]) / p["scaler_scale"][j] - p["pca_mean"][j]
              for j, f in enumerate(p["features"])]
    pca = []
    for comp in p["pca_components"]:
        acc = None
        for c, s in zip(comp, scaled):
            acc = s * c if acc is None else acc + s * c
        pca.append(acc)
    dists = []
    for centre in p["kmeans_centers"]:
        acc = None
        for yi, ci in zip(pca, centre):
            d = (yi - ci) * (yi - ci)
            acc = d if acc is None else acc + d
        dists.append(acc)
    x["cluster"] = float(dists.index(min(dists)))
    vec = [float(x[c]) for c in MODEL_COLUMNS]
    out = {"cluster": int(x["cluster"])}
    for disease, model in models.items():
        lp = model["learner"]
        base = float(lp["learner_model_param"]["base_score"].strip("[]"))
        margin = math.log(base / (1.0 - base))
        for t in lp["gradient_booster"]["model"]["trees"]:
            i = 0
            while t["left_children"][i] != -1:
                v = vec[t["split_indices"][i]]
                if math.isnan(v):
                    i = t["left_children"][i] if t["default_left"][i] else t["right_children"][i]
                elif np.float32(v) < np.float32(t["split_conditions"][i]):
                    i = t["left_children"][i]
                else:
                    i = t["right_children"][i]
            margin += float(np.float32(t["split_conditions"][i]))
        out[disease] = 1.0 / (1.0 + math.exp(-margin))
    return out


# ---------------------------------------------------------------- corpus

def corpus(out, seed, n_docs, n_vectors):
    """documents.parquet + embeddings.parquet in the suite's schema."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    near_dups = set(rng.sample(range(21, n_docs), n_docs // 20))  # 5% planted
    texts = []
    for i in range(n_docs):
        if i in near_dups:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100))))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nrng = np.random.default_rng(seed)
    centres = nrng.normal(size=(10, 64))
    labels = nrng.integers(0, 10, size=n_vectors)
    vecs = centres[labels] + 0.8 * nrng.normal(size=(n_vectors, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(n_vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(docs, f"{out}/documents.parquet")
    pq.write_table(emb, f"{out}/embeddings.parquet")


def fingerprint(root):
    """sha256 over the relative paths and bytes of every file under root."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
