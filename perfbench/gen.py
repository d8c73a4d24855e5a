"""Seeded generator for a Gen3-shaped data commons.

Writes, for one (workload, seed), everything ``tube_spark.run.main``
reads and nothing else:

* ``graph/node_<label>`` and ``graph/edge_<rel>`` tables in the
  reference's physical layout (``created, acl, _sysan, _props, node_id``
  / ``... src_id, dst_id``) as Parquet shards or headerless Sqoop CSV
  shards (embedded ``"`` doubled inside quoted fields);
* ``dictionary.json``: one JSON Schema per node label;
* ``etlMapping.yaml``: the workload's mappings;
* ``manifest.json``: rows and bytes per table, written last — its
  presence marks a complete, reusable input set.

The commons has 9 node types::

    program → project → center → participant → sample → aliquot → aligned_reads_file
                                             → visit
                                             → imaging_file

``aligned_reads_file`` and ``imaging_file`` form the ``data_file``
category.  Children per parent are drawn from skewed (gamma–Poisson)
distributions, so a few parents carry many children while the totals
stay close to their means for every seed.

Usage: ``python3 perfbench/gen.py --workload commons_full --seed 1``
(prints the input directory).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import yaml

WORK_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")

# label -> (parent, link name on the child, backref on the parent, link label)
TREE = {
    "program": None,
    "project": ("program", "programs", "projects", "member_of"),
    "center": ("project", "projects", "centers", "member_of"),
    "participant": ("center", "centers", "participants", "enrolled_at"),
    "sample": ("participant", "participants", "samples", "derived_from"),
    "aliquot": ("sample", "samples", "aliquots", "derived_from"),
    "aligned_reads_file": ("aliquot", "aliquots", "aligned_reads_files", "data_from"),
    "visit": ("participant", "participants", "visits", "describes"),
    "imaging_file": ("participant", "participants", "imaging_files", "data_from"),
}
CATEGORY = {
    "program": "administrative",
    "project": "administrative",
    "center": "administrative",
    "participant": "clinical",
    "visit": "clinical",
    "sample": "biospecimen",
    "aliquot": "biospecimen",
    "aligned_reads_file": "data_file",
    "imaging_file": "data_file",
}

# Input size per workload.  ``wide`` pads every node's _props to ~60
# properties that no mapping requests.
WORKLOADS = {
    "commons_full": {"subjects": 4000, "fmt": "parquet", "wide": False},
    "sqoop_csv_wide": {"subjects": 4000, "fmt": "csv", "wide": True},
    "many_indexes": {"subjects": 400, "fmt": "parquet", "wide": False},
}
WIDE_PROPS = 60
SHARDS = 2  # files per table (Sqoop writes part-m-00000, part-m-00001, ...)

ENUMS = {
    "gender": ["f", "m", "u"],
    "race": ["white", "black", "asian", "native", "pacific", "other"],
    "ethnicity": ["hispanic", "not hispanic", "unknown"],
    "vital_status": ["alive", "dead", "unknown"],
    "sample_type": ["blood", "saliva", "tumor", "normal tissue", "plasma", "urine"],
    "tissue_type": ["tumor", "normal", "abnormal", "unknown"],
    "analyte_type": ["DNA", "RNA", "protein", "cfDNA"],
    "visit_type": ["baseline", "follow-up", "treatment", "adverse event"],
    "data_format": ["BAM", "CRAM", "DICOM", "NIfTI"],
    "data_category": ["sequencing", "imaging"],
    "modality": ["CT", "MR", "PET", "XR"],
    "availability_type": ["open", "restricted"],
}
CONSENT = ["GRU", "HMB", "DS-CA", "NPU", "IRB", "COL"]

# JSON-Schema type per domain property ("enum" entries use ENUMS)
PROPS = {
    "program": {"name": "string", "dbgap_accession_number": "string"},
    "project": {"code": "string", "name": "string", "availability_type": "enum",
                "dbgap_accession_number": "string"},
    "center": {"name": "string", "country": "string", "investigator_name": "string"},
    "participant": {"submitter_id": "string", "gender": "enum", "race": "enum",
                    "ethnicity": "enum", "age_at_enrollment": "integer",
                    "consent_codes": "array", "vital_status": "enum",
                    "bmi_baseline": "number"},
    "sample": {"submitter_id": "string", "sample_type": "enum", "tissue_type": "enum",
               "days_to_collection": "integer", "is_ffpe": "boolean"},
    "aliquot": {"submitter_id": "string", "analyte_type": "enum",
                "concentration": "number", "aliquot_volume": "number"},
    "aligned_reads_file": {"submitter_id": "string", "file_name": "string",
                           "file_size": "integer", "data_format": "enum",
                           "data_category": "enum", "md5sum": "string",
                           "object_id": "string"},
    "visit": {"submitter_id": "string", "visit_number": "integer",
              "days_to_visit": "integer", "bmi": "number", "weight": "number",
              "visit_type": "enum"},
    "imaging_file": {"submitter_id": "string", "file_name": "string",
                     "file_size": "integer", "data_format": "enum",
                     "data_category": "enum", "md5sum": "string",
                     "object_id": "string", "modality": "enum"},
}

WIDE_KINDS = ("string", "integer", "number", "boolean")
QUOTED_WORDS = ['plain', 'has "quotes"', 'comma, inside', 'both "a", b', 'x\\y']


def edge_table(child: str) -> str:
    """Physical edge-table name, the psqlgraph convention the engine's
    dictionary loader derives: ``edge_<child><label><parent>`` without
    underscores."""
    parent, _, _, label = TREE[child]
    return "edge_" + f"{child}{label}{parent}".replace("_", "")


def wide_names() -> list[str]:
    return [f"extra_{i:02d}" for i in range(WIDE_PROPS - 8)]


def dictionary(wide: bool) -> dict:
    """{label: JSON Schema} in the Gen3 dictionary shape."""
    out = {}
    for label, props in PROPS.items():
        properties = {}
        for name, kind in props.items():
            if kind == "enum":
                properties[name] = {"enum": ENUMS[name]}
            elif kind == "array":
                properties[name] = {"type": "array", "items": {"type": "string"}}
            else:
                properties[name] = {"type": kind}
        if wide:
            for i, name in enumerate(wide_names()):
                properties[name] = {"type": WIDE_KINDS[i % len(WIDE_KINDS)]}
        links = []
        if TREE[label] is not None:
            parent, name, backref, link_label = TREE[label]
            links.append({"name": name, "backref": backref, "label": link_label,
                          "target_type": parent, "multiplicity": "many_to_one",
                          "required": True})
            properties[name] = {"$ref": "_definitions.yaml#/to_one"}
        out[label] = {"id": label, "category": CATEGORY[label],
                      "properties": properties, "links": links}
    return out


def _skewed(rng: np.random.Generator, n: int, mean: float, shape: float, cap: int) -> np.ndarray:
    """Gamma–Poisson child counts: mean ``mean``, heavier tail for smaller
    ``shape``, capped at ``cap``."""
    lam = rng.gamma(shape, mean / shape, size=n)
    return np.minimum(rng.poisson(lam), cap)


def _ids(rng: np.random.Generator, n: int) -> list[str]:
    hi = rng.integers(0, 2**63, size=n, dtype=np.int64)
    lo = rng.integers(0, 2**63, size=n, dtype=np.int64)
    out = []
    for a, b in zip(hi.tolist(), lo.tolist()):
        h = f"{a:016x}{b:016x}"
        out.append(f"{h[:8]}-{h[8:12]}-4{h[13:16]}-a{h[17:20]}-{h[20:]}")
    return out


class Commons:
    """The generated graph, as columns per label (kept in memory only
    while writing)."""

    def __init__(self, seed: int, subjects: int, wide: bool):
        self.rng = np.random.default_rng(seed)
        self.wide = wide
        self.ids: dict[str, list[str]] = {}
        self.parent_idx: dict[str, np.ndarray] = {}
        self.props: dict[str, dict[str, list]] = {}
        self._build(subjects)

    # -- topology ----------------------------------------------------------
    def _children(self, label: str, counts: np.ndarray) -> None:
        parent = TREE[label][0]
        self.parent_idx[label] = np.repeat(np.arange(len(self.ids[parent])), counts)
        self.ids[label] = _ids(self.rng, int(counts.sum()))

    def _build(self, subjects: int) -> None:
        rng = self.rng
        self.ids["program"] = _ids(rng, 2)
        self._children("project", np.array([3, 3]))
        self._children("center", np.full(6, 2))
        # participants per center: Pareto weights -> a few large centers
        w = rng.pareto(1.2, size=12) + 0.2
        counts = rng.multinomial(subjects, w / w.sum())
        self._children("participant", counts)
        n = subjects
        self._children("sample", _skewed(rng, n, 2.0, 0.7, 40))
        self._children("aliquot", 1 + _skewed(rng, len(self.ids["sample"]), 0.6, 1.0, 8))
        self._children("aligned_reads_file",
                       _skewed(rng, len(self.ids["aliquot"]), 0.8, 1.0, 6))
        self._children("visit", _skewed(rng, n, 3.0, 1.5, 30))
        self._children("imaging_file", _skewed(rng, n, 0.6, 0.5, 12))
        for label in TREE:
            self.props[label] = self._values(label)

    # -- property values ---------------------------------------------------
    def _values(self, label: str) -> dict[str, list]:
        rng = self.rng
        n = len(self.ids[label])
        cols: dict[str, list] = {}

        def enum(name: str, p=None) -> list:
            vals = ENUMS[name]
            return [vals[i] for i in rng.choice(len(vals), size=n, p=p).tolist()]

        def with_nulls(vals: list, share: float) -> list:
            drop = rng.random(n) < share
            return [None if d else v for v, d in zip(vals, drop.tolist())]

        prefix = "".join(w[0] for w in label.split("_")).upper()
        cols["submitter_id"] = [f"{prefix}-{i:07d}" for i in range(n)]
        if label == "program":
            cols = {"name": ["GEN3", "CMNS"][:n],
                    "dbgap_accession_number": [f"phs{i:06d}" for i in range(n)]}
        elif label == "project":
            cols = {"code": [f"PRJ-{i}" for i in range(n)],
                    "name": [f"Project {i}" for i in range(n)],
                    "availability_type": enum("availability_type"),
                    "dbgap_accession_number": [f"phs1{i:05d}" for i in range(n)]}
        elif label == "center":
            cols = {"name": [f"Center {i}" for i in range(n)],
                    "country": [["US", "CA", "UK", "DE"][i % 4] for i in range(n)],
                    "investigator_name": [f"Dr. \"{chr(65 + i)}\" Smith" for i in range(n)]}
        elif label == "participant":
            cols["gender"] = enum("gender", p=[0.49, 0.49, 0.02])
            cols["race"] = enum("race")
            cols["ethnicity"] = enum("ethnicity")
            cols["age_at_enrollment"] = rng.integers(18, 91, size=n).tolist()
            k = rng.integers(0, 4, size=n).tolist()
            cols["consent_codes"] = [
                sorted(rng.choice(CONSENT, size=c, replace=False).tolist()) for c in k
            ]
            cols["vital_status"] = enum("vital_status")
            cols["bmi_baseline"] = with_nulls(
                np.round(rng.normal(26, 4, size=n), 2).tolist(), 0.05)
        elif label == "sample":
            cols["sample_type"] = enum("sample_type")
            cols["tissue_type"] = enum("tissue_type")
            cols["days_to_collection"] = rng.integers(0, 2000, size=n).tolist()
            cols["is_ffpe"] = (rng.random(n) < 0.3).tolist()
        elif label == "aliquot":
            cols["analyte_type"] = enum("analyte_type")
            cols["concentration"] = np.round(rng.gamma(2, 0.3, size=n), 3).tolist()
            cols["aliquot_volume"] = np.round(rng.uniform(5, 100, size=n), 1).tolist()
        elif label in ("aligned_reads_file", "imaging_file"):
            cols["file_name"] = [f"{s}.{'bam' if label[0] == 'a' else 'dcm'}"
                                 for s in cols["submitter_id"]]
            cols["file_size"] = rng.integers(10**6, 5 * 10**10, size=n).tolist()
            cols["data_format"] = [
                ["BAM", "CRAM"][i] if label[0] == "a" else ["DICOM", "NIfTI"][i]
                for i in rng.integers(0, 2, size=n).tolist()
            ]
            cols["data_category"] = ["sequencing" if label[0] == "a" else "imaging"] * n
            cols["md5sum"] = [i.replace("-", "") for i in _ids(rng, n)]
            cols["object_id"] = [f"dg.4503/{i}" for i in _ids(rng, n)]
            if label == "imaging_file":
                cols["modality"] = enum("modality")
        elif label == "visit":
            pidx = self.parent_idx["visit"]
            # visit_number 1..k within each participant; days strictly rise
            starts = np.r_[0, np.flatnonzero(np.diff(pidx)) + 1]
            number = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1
            gaps = rng.integers(1, 200, size=n)
            cum = np.cumsum(gaps)
            base = np.repeat(cum[starts] - gaps[starts], np.diff(np.r_[starts, n]))
            cols["visit_number"] = number.tolist()
            cols["days_to_visit"] = (cum - base).tolist()
            cols["bmi"] = with_nulls(np.round(rng.normal(26, 4, size=n), 2).tolist(), 0.1)
            cols["weight"] = np.round(rng.normal(75, 12, size=n), 1).tolist()
            cols["visit_type"] = enum("visit_type")
        if self.wide:
            for i, name in enumerate(wide_names()):
                kind = WIDE_KINDS[i % len(WIDE_KINDS)]
                if kind == "string":
                    cols[name] = [QUOTED_WORDS[j] for j in rng.integers(0, 5, size=n).tolist()]
                elif kind == "integer":
                    cols[name] = rng.integers(0, 10**6, size=n).tolist()
                elif kind == "number":
                    cols[name] = np.round(rng.random(n) * 1000, 3).tolist()
                else:
                    cols[name] = (rng.random(n) < 0.5).tolist()
        return cols

    def props_json(self, label: str) -> list[str]:
        """One ``_props`` JSON string per node; null props are omitted."""
        frags = [_fragments(name, vals) for name, vals in self.props[label].items()]
        return ["{" + ",".join(filter(None, row)) + "}" for row in zip(*frags)]


def _fragments(name: str, vals: list) -> list[str | None]:
    """``"name":<json value>`` per value, None for a null value."""
    key = json.dumps(name) + ":"
    memo: dict = {}

    def enc(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return key + ("true" if v else "false")
        if isinstance(v, (int, float)):
            return key + repr(v)
        if isinstance(v, list):
            return key + json.dumps(v)
        out = memo.get(v)
        if out is None:
            out = memo[v] = key + json.dumps(v)
        return out

    return [enc(v) for v in vals]


def _write_table(path: str, table: pa.Table, fmt: str) -> None:
    os.makedirs(path)
    n = table.num_rows
    bounds = np.linspace(0, n, SHARDS + 1).astype(int)
    for s in range(SHARDS):
        part = table.slice(bounds[s], bounds[s + 1] - bounds[s])
        if fmt == "parquet":
            pq.write_table(part, os.path.join(path, f"part-{s:05d}.parquet"))
        else:
            pacsv.write_csv(
                part, os.path.join(path, f"part-m-{s:05d}"),
                pacsv.WriteOptions(include_header=False, quoting_style="needed"),
            )


def mappings(workload: str) -> dict:
    file_index = {
        "name": "file", "doc_type": "file", "type": "collector",
        "category": "data_file",
        "props": [{"name": p} for p in ("submitter_id", "file_name", "file_size",
                                        "data_format", "md5sum", "object_id",
                                        "source_node")],
        "injecting_props": {
            "participant": {"props": [{"name": "participant_id", "src": "id"},
                                      {"name": "subject_submitter_id", "src": "submitter_id"}]},
            "project": {"props": [{"name": "project_code", "src": "code"}]},
        },
    }
    chain = {"path": "centers[center_name:name,country].projects[project_code:code]"
                     ".programs[program_name:name]"}
    if workload == "commons_full":
        subject = {
            "name": "subject", "doc_type": "subject", "type": "aggregator",
            "root": "participant",
            "props": [
                {"name": "submitter_id"},
                {"name": "gender",
                 "value_mappings": [{"f": "Female"}, {"m": "Male"}, {"u": "Unknown"}]},
                {"name": "race"}, {"name": "ethnicity"}, {"name": "age_at_enrollment"},
                {"name": "consent_codes"}, {"name": "vital_status"},
            ],
            "parent_props": [chain],
            "flatten_props": [{
                "path": "visits", "sorted_by": "days_to_visit, desc",
                "props": [{"name": "last_visit_days", "src": "days_to_visit"},
                          {"name": "last_visit_type", "src": "visit_type"},
                          {"name": "last_visit_bmi", "src": "bmi"}],
            }],
            "aggregated_props": [
                {"name": "_samples_count", "path": "samples", "fn": "count"},
                {"name": "sample_types", "path": "samples", "src": "sample_type", "fn": "set"},
                {"name": "_aliquots_count", "path": "samples.aliquots", "fn": "count"},
                {"name": "analyte_types", "path": "samples.aliquots",
                 "src": "analyte_type", "fn": "set"},
                {"name": "_aligned_reads_files_count",
                 "path": "samples.aliquots.aligned_reads_files", "fn": "count"},
                {"name": "reads_bytes", "path": "samples.aliquots.aligned_reads_files",
                 "src": "file_size", "fn": "sum"},
                {"name": "min_bmi", "path": "visits", "src": "bmi", "fn": "min"},
                {"name": "max_bmi", "path": "visits", "src": "bmi", "fn": "max"},
                {"name": "_imaging_files_count", "path": "imaging_files", "fn": "count"},
            ],
            "nested_props": [{
                "name": "visits", "path": "visits",
                "props": [{"name": p} for p in ("visit_number", "days_to_visit",
                                                "visit_type", "bmi", "weight")],
            }],
        }
        maps = [subject, file_index]
    elif workload == "sqoop_csv_wide":
        subject = {
            "name": "subject", "doc_type": "subject", "type": "aggregator",
            "root": "participant",
            "props": [{"name": p} for p in ("submitter_id", "gender", "race",
                                            "age_at_enrollment")],
            "parent_props": [chain],
        }
        maps = [subject, file_index]
    elif workload == "many_indexes":
        maps = _many_indexes(file_index)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {"mappings": maps}


def _many_indexes(file_index: dict) -> list[dict]:
    file_index = json.loads(json.dumps(file_index))
    file_index["injecting_props"]["center"] = {"props": [{"name": "_center_id", "src": "id"}]}

    def agg(name, root, **kw):
        return {"name": name, "doc_type": name, "type": "aggregator", "root": root, **kw}

    return [
        agg("subject", "participant",
            props=[{"name": "submitter_id"}, {"name": "gender"}],
            parent_props=[{"path": "centers[_center_id:id]"},
                          {"path": "centers.projects[_project_id:id,project_code:code]"}],
            aggregated_props=[{"name": "_samples_count", "path": "samples", "fn": "count"}]),
        file_index,
        agg("project", "project",
            props=[{"name": "code"}, {"name": "name"}],
            aggregated_props=[
                {"name": "_centers_count", "path": "centers", "fn": "count"},
                {"name": "_participants_count", "path": "centers.participants", "fn": "count"},
            ],
            joining_props=[{"index": "subject", "join_on": "_project_id", "props": [
                {"name": "subject_genders", "src": "gender", "fn": "set"},
                {"name": "subject_count", "src": "submitter_id", "fn": "count"},
            ]}]),
        agg("center", "center",
            props=[{"name": "name"}, {"name": "country"}],
            parent_props=[{"path": "projects[project_code:code]"}],
            joining_props=[{"index": "file", "join_on": "_center_id", "props": [
                {"name": "file_bytes", "src": "file_size", "fn": "sum"},
                {"name": "file_formats", "src": "data_format", "fn": "set"},
            ]}]),
        agg("female_subject", "participant",
            props=[{"name": "submitter_id"}, {"name": "gender"},
                   {"name": "age_at_enrollment"}],
            filter={"op": "=", "prop": "gender", "value": "f"}),
        agg("sample", "sample",
            props=[{"name": "submitter_id"}, {"name": "sample_type"}, {"name": "is_ffpe"}],
            parent_props=[{"path": "participants[participant_submitter_id:submitter_id]"
                                   ".centers[center_name:name]"}],
            aggregated_props=[{"name": "_aliquots_count", "path": "aliquots", "fn": "count"}],
            nested_props=[{"name": "aliquots", "path": "aliquots",
                           "props": [{"name": "analyte_type"}, {"name": "concentration"}]}]),
        agg("visit", "visit",
            props=[{"name": "visit_number"}, {"name": "days_to_visit"}, {"name": "bmi"},
                   {"name": "visit_type"}],
            parent_props=[{"path": "participants[gender,_participant_id:id]"}]),
        agg("aliquot", "aliquot",
            props=[{"name": "submitter_id"}, {"name": "analyte_type"}],
            parent_props=[{"path": "samples[sample_type]"}],
            aggregated_props=[
                {"name": "_files_count", "path": "aligned_reads_files", "fn": "count"},
                {"name": "reads_bytes", "path": "aligned_reads_files",
                 "src": "file_size", "fn": "sum"},
            ]),
    ]


def generate(workload: str, seed: int, root: str | None = None) -> str:
    """Write (or reuse) the inputs for (workload, seed); returns their dir."""
    spec = WORKLOADS[workload]
    root = root or os.path.join(WORK_DIR, "inputs")
    out = os.path.join(root, f"{workload}-s{seed}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "graph"))

    commons = Commons(seed, spec["subjects"], spec["wide"])
    fmt = spec["fmt"]
    created = "2026-01-01T00:00:00"
    tables = {}
    for label in TREE:
        ids = commons.ids[label]
        props = commons.props_json(label)
        n = len(ids)
        node = pa.table({
            "created": [created] * n, "acl": ["[]"] * n, "_sysan": ["{}"] * n,
            "_props": props, "node_id": ids,
        })
        name = f"node_{label}"
        _write_table(os.path.join(tmp, "graph", name), node, fmt)
        tables[name] = {"rows": n, "props_bytes": sum(len(p) for p in props)}
        if TREE[label] is None:
            continue
        parent_ids = commons.ids[TREE[label][0]]
        dst = [parent_ids[i] for i in commons.parent_idx[label].tolist()]
        edge = pa.table({
            "created": [created] * n, "acl": ["[]"] * n, "_sysan": ["{}"] * n,
            "_props": ["{}"] * n, "src_id": ids, "dst_id": dst,
        })
        name = edge_table(label)
        _write_table(os.path.join(tmp, "graph", name), edge, fmt)
        tables[name] = {"rows": n, "props_bytes": 2 * n}

    with open(os.path.join(tmp, "dictionary.json"), "w") as f:
        json.dump(dictionary(spec["wide"]), f, indent=1, sort_keys=True)
    with open(os.path.join(tmp, "etlMapping.yaml"), "w") as f:
        yaml.safe_dump(mappings(workload), f, sort_keys=False)
    disk = 0
    for dirpath, _, files in os.walk(os.path.join(tmp, "graph")):
        disk += sum(os.path.getsize(os.path.join(dirpath, x)) for x in files)
    manifest = {
        "workload": workload, "seed": seed, "format": fmt,
        "subjects": spec["subjects"], "tables": tables,
        "rows": sum(t["rows"] for t in tables.values()),
        "input_mb": disk / 1e6,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", help="input root (default perfbench/.work/inputs)")
    a = ap.parse_args()
    print(generate(a.workload, a.seed, a.root))
    sys.exit(0)
