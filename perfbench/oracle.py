"""Engine-free oracle: DuckDB recomputes every published index from the
generated input files and compares it with the current version the
versioned sink points at.

``Oracle(inputs_dir)`` builds the expected tables once; ``check(out_dir)``
returns a list of mismatch descriptions (empty = correct).  Per index it
compares the document count, the document ids, and per document the
values the workload's mapping derives: parent-chain props, ``count`` /
``sum`` / ``set`` / ``min`` / ``max`` aggregates over 1–3-hop paths, the
top-1 flatten, nested sub-document sizes, injected ancestor ids and
cross-index join values.
"""

from __future__ import annotations

import json
import os

import duckdb

from gen import TREE, edge_table

# index -> (expected-table SQL, key column in the published documents,
# [(expected column, published-document expression)])
Spec = tuple[str, str, list[tuple[str, str]]]


def _js(prop: str, alias: str = "n") -> str:
    return f"json_extract_string({alias}.p, '$.{prop}')"


def _chain_sql() -> str:
    """participant -> center -> project -> program, one row per participant."""
    return f"""
        select e_pc.c as pid, n_c.id as center_id, {_js('name', 'n_c')} as center_name,
               {_js('country', 'n_c')} as country, n_pr.id as project_id,
               {_js('code', 'n_pr')} as project_code, {_js('name', 'n_pg')} as program_name
        from edge_participant e_pc
        join node_center n_c on e_pc.par = n_c.id
        join edge_center e_cp on e_cp.c = n_c.id
        join node_project n_pr on e_cp.par = n_pr.id
        join edge_project e_pp on e_pp.c = n_pr.id
        join node_program n_pg on e_pp.par = n_pg.id"""


def _files_sql() -> str:
    """Every data_file node with its participant, center and project."""
    cols = ", ".join(
        f"{_js(p)} as {p}" for p in ("submitter_id", "file_name", "data_format",
                                     "md5sum", "object_id")
    )
    return f"""
        with leaf as (
            select n.id, 'aligned_reads_file' as source_node, {cols},
                   {_js('file_size')}::BIGINT as file_size, s.par as pid
            from node_aligned_reads_file n
            join edge_aligned_reads_file f on f.c = n.id
            join edge_aliquot a on f.par = a.c
            join edge_sample s on a.par = s.c
            union all
            select n.id, 'imaging_file', {cols}, {_js('file_size')}::BIGINT, i.par
            from node_imaging_file n join edge_imaging_file i on i.c = n.id
        )
        select leaf.*, {_js('submitter_id', 'np')} as subject_submitter_id,
               ch.center_id, ch.project_code
        from leaf join node_participant np on np.id = leaf.pid
        join ({_chain_sql()}) ch on ch.pid = leaf.pid"""


FILE_SPEC: Spec = (
    _files_sql(), "_doc_id",
    [("source_node", "source_node"), ("submitter_id", "submitter_id"),
     ("file_size", "file_size"), ("data_format", "data_format"),
     ("md5sum", "md5sum"), ("object_id", "object_id"),
     ("pid", "participant_id"), ("subject_submitter_id", "subject_submitter_id"),
     ("project_code", "project_code")],
)


def _subject_full_sql() -> str:
    return f"""
        with samples as (select par as pid, count(*) as n,
                                list_sort(list_distinct(list({_js('sample_type')}))) as types
                         from edge_sample e left join node_sample n on e.c = n.id group by par),
        aliquots as (select s.par as pid, count(*) as n,
                            list_sort(list_distinct(list({_js('analyte_type')}))) as types
                     from edge_aliquot a join edge_sample s on a.par = s.c
                     left join node_aliquot n on a.c = n.id group by s.par),
        reads as (select s.par as pid, count(*) as n,
                         sum({_js('file_size')}::BIGINT)::BIGINT as bytes
                  from edge_aligned_reads_file f join edge_aliquot a on f.par = a.c
                  join edge_sample s on a.par = s.c
                  left join node_aligned_reads_file n on f.c = n.id group by s.par),
        visits as (select e.par as pid, count(*) as n,
                          min({_js('bmi')}::DOUBLE) as min_bmi,
                          max({_js('bmi')}::DOUBLE) as max_bmi,
                          arg_max_null({_js('visit_type')}, {_js('days_to_visit')}::BIGINT) as last_type,
                          arg_max_null({_js('bmi')}::DOUBLE, {_js('days_to_visit')}::BIGINT) as last_bmi,
                          max({_js('days_to_visit')}::BIGINT) as last_days,
                          list_sort(list({_js('visit_number')}::BIGINT)) as numbers
                   from edge_visit e join node_visit n on e.c = n.id group by e.par),
        imaging as (select par as pid, count(*) as n from edge_imaging_file group by par)
        select n.id, {_js('submitter_id')} as submitter_id,
               case {_js('gender')} when 'f' then 'Female' when 'm' then 'Male'
                    when 'u' then 'Unknown' else {_js('gender')} end as gender,
               {_js('race')} as race, {_js('age_at_enrollment')}::BIGINT as age,
               from_json(json_extract(n.p, '$.consent_codes'), '["VARCHAR"]') as consent,
               ch.center_name, ch.project_code, ch.program_name,
               coalesce(samples.n, 0) as samples_n, samples.types as sample_types,
               coalesce(aliquots.n, 0) as aliquots_n, aliquots.types as analyte_types,
               coalesce(reads.n, 0) as reads_n, reads.bytes as reads_bytes,
               visits.min_bmi, visits.max_bmi, visits.last_type, visits.last_bmi,
               visits.last_days, coalesce(visits.n, 0) as visits_n,
               coalesce(visits.numbers, []::BIGINT[]) as visit_numbers,
               coalesce(imaging.n, 0) as imaging_n
        from node_participant n
        left join ({_chain_sql()}) ch on ch.pid = n.id
        left join samples on samples.pid = n.id
        left join aliquots on aliquots.pid = n.id
        left join reads on reads.pid = n.id
        left join visits on visits.pid = n.id
        left join imaging on imaging.pid = n.id"""


SUBJECT_FULL: Spec = (
    _subject_full_sql(), "node_id",
    [("submitter_id", "submitter_id"), ("gender", "gender"), ("race", "race"),
     ("age", "age_at_enrollment"), ("consent", "consent_codes"),
     ("center_name", "center_name"), ("project_code", "project_code"),
     ("program_name", "program_name"), ("samples_n", "_samples_count"),
     ("sample_types", "sample_types"), ("aliquots_n", "_aliquots_count"),
     ("analyte_types", "analyte_types"), ("reads_n", "_aligned_reads_files_count"),
     ("reads_bytes", "reads_bytes"), ("min_bmi", "min_bmi"), ("max_bmi", "max_bmi"),
     ("last_type", "last_visit_type"), ("last_bmi", "last_visit_bmi"),
     ("last_days", "last_visit_days"), ("visits_n", "coalesce(len(visits), 0)"),
     ("visit_numbers",
      "coalesce(list_sort(list_transform(visits, x -> x.visit_number)), []::BIGINT[])"),
     ("imaging_n", "_imaging_files_count")],
)

SUBJECT_FLAT: Spec = (
    f"""select n.id, {_js('submitter_id')} as submitter_id, {_js('gender')} as gender,
               {_js('race')} as race, {_js('age_at_enrollment')}::BIGINT as age,
               ch.center_name, ch.country, ch.project_code, ch.program_name
        from node_participant n left join ({_chain_sql()}) ch on ch.pid = n.id""",
    "node_id",
    [("submitter_id", "submitter_id"), ("gender", "gender"), ("race", "race"),
     ("age", "age_at_enrollment"), ("center_name", "center_name"),
     ("country", "country"), ("project_code", "project_code"),
     ("program_name", "program_name")],
)


def _many_indexes_specs() -> dict[str, Spec]:
    file_spec = (FILE_SPEC[0], "_doc_id",
                 FILE_SPEC[2] + [("center_id", "_center_id")])
    subject = (
        f"""select n.id, {_js('submitter_id')} as submitter_id, {_js('gender')} as gender,
                   ch.center_id, ch.project_id, ch.project_code,
                   (select count(*) from edge_sample s where s.par = n.id) as samples_n
            from node_participant n left join ({_chain_sql()}) ch on ch.pid = n.id""",
        "node_id",
        [("submitter_id", "submitter_id"), ("gender", "gender"),
         ("center_id", "_center_id"), ("project_id", "_project_id"),
         ("project_code", "project_code"), ("samples_n", "_samples_count")],
    )
    project = (
        f"""with ch as ({_chain_sql()})
            select n.id, {_js('code')} as code, {_js('name')} as name,
                   (select count(*) from edge_center e where e.par = n.id) as centers_n,
                   (select count(*) from ch where ch.project_id = n.id) as participants_n,
                   (select list_sort(list_distinct(list({_js('gender', 'p')})))
                      from ch join node_participant p on p.id = ch.pid
                     where ch.project_id = n.id) as genders,
                   (select count({_js('submitter_id', 'p')})
                      from ch join node_participant p on p.id = ch.pid
                     where ch.project_id = n.id) as subjects_n
            from node_project n""",
        "node_id",
        [("code", "code"), ("name", "name"), ("centers_n", "_centers_count"),
         ("participants_n", "_participants_count"), ("genders", "subject_genders"),
         ("subjects_n", "coalesce(subject_count, 0)")],
    )
    center = (
        f"""with f as ({_files_sql()})
            select n.id, {_js('name')} as name, {_js('country')} as country,
                   {_js('code', 'pr')} as project_code,
                   (select sum(file_size)::BIGINT from f where f.center_id = n.id) as bytes,
                   (select list_sort(list_distinct(list(data_format)))
                      from f where f.center_id = n.id) as formats
            from node_center n join edge_center e on e.c = n.id
            join node_project pr on pr.id = e.par""",
        "node_id",
        [("name", "name"), ("country", "country"), ("project_code", "project_code"),
         ("bytes", "file_bytes"), ("formats", "file_formats")],
    )
    female = (
        f"""select n.id, {_js('submitter_id')} as submitter_id,
                   {_js('age_at_enrollment')}::BIGINT as age
            from node_participant n where {_js('gender')} = 'f'""",
        "node_id",
        [("submitter_id", "submitter_id"), ("age", "age_at_enrollment")],
    )
    sample = (
        f"""select n.id, {_js('sample_type')} as sample_type,
                   {_js('is_ffpe')}::BOOLEAN as is_ffpe,
                   {_js('submitter_id', 'p')} as participant_submitter_id,
                   ch.center_name,
                   (select count(*) from edge_aliquot a where a.par = n.id) as aliquots_n
            from node_sample n join edge_sample e on e.c = n.id
            join node_participant p on p.id = e.par
            left join ({_chain_sql()}) ch on ch.pid = p.id""",
        "node_id",
        [("sample_type", "sample_type"), ("is_ffpe", "is_ffpe"),
         ("participant_submitter_id", "participant_submitter_id"),
         ("center_name", "center_name"), ("aliquots_n", "_aliquots_count"),
         ("aliquots_n", "coalesce(len(aliquots), 0)")],
    )
    visit = (
        f"""select n.id, {_js('visit_number')}::BIGINT as visit_number,
                   {_js('bmi')}::DOUBLE as bmi, {_js('gender', 'p')} as gender,
                   p.id as participant_id
            from node_visit n join edge_visit e on e.c = n.id
            join node_participant p on p.id = e.par""",
        "node_id",
        [("visit_number", "visit_number"), ("bmi", "bmi"), ("gender", "gender"),
         ("participant_id", "_participant_id")],
    )
    aliquot = (
        f"""with fs as (select f.par as aid, count(*) as n,
                               sum({_js('file_size')}::BIGINT)::BIGINT as bytes
                        from edge_aligned_reads_file f
                        left join node_aligned_reads_file n on n.id = f.c group by f.par)
            select n.id, {_js('analyte_type')} as analyte_type,
                   {_js('sample_type', 's')} as sample_type,
                   coalesce(fs.n, 0) as files_n, fs.bytes
            from node_aliquot n join edge_aliquot e on e.c = n.id
            join node_sample s on s.id = e.par
            left join fs on fs.aid = n.id""",
        "node_id",
        [("analyte_type", "analyte_type"), ("sample_type", "sample_type"),
         ("files_n", "_files_count"), ("bytes", "reads_bytes")],
    )
    return {"subject": subject, "file": file_spec, "project": project, "center": center,
            "female_subject": female, "sample": sample, "visit": visit,
            "aliquot": aliquot}


def specs(workload: str) -> dict[str, Spec]:
    if workload == "commons_full":
        return {"subject": SUBJECT_FULL, "file": FILE_SPEC}
    if workload == "sqoop_csv_wide":
        return {"subject": SUBJECT_FLAT, "file": FILE_SPEC}
    if workload == "many_indexes":
        return _many_indexes_specs()
    raise ValueError(f"unknown workload {workload!r}")


def current_version(out_dir: str, index: str) -> str | None:
    """Directory of the version the index's manifest points at."""
    path = os.path.join(out_dir, f"{index}.manifest.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        m = json.load(f)
    if m.get("current") is None:
        return None
    return os.path.join(out_dir, f"{index}_v{m['current']}")


class Oracle:
    def __init__(self, inputs_dir: str):
        with open(os.path.join(inputs_dir, "manifest.json")) as f:
            manifest = json.load(f)
        self.workload = manifest["workload"]
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        graph = os.path.join(inputs_dir, "graph")
        for label in TREE:
            self._view(f"node_{label}", os.path.join(graph, f"node_{label}"),
                       manifest["format"], "node_id as id, _props as p")
            if TREE[label] is not None:
                self._view(f"edge_{label}", os.path.join(graph, edge_table(label)),
                           manifest["format"], "src_id as c, dst_id as par")
        self.specs = specs(self.workload)
        for index, (sql, _, _) in self.specs.items():
            self.con.execute(f"create table exp_{index} as {sql}")

    def _view(self, name: str, path: str, fmt: str, select: str) -> None:
        if fmt == "parquet":
            src = f"read_parquet('{path}/*.parquet')"
        else:
            cols = ["created", "acl", "_sysan", "_props"]
            cols += ["node_id"] if name.startswith("node_") else ["src_id", "dst_id"]
            colspec = ", ".join(f"'{c}': 'VARCHAR'" for c in cols)
            src = (f"read_csv('{path}/*', header=false, quote='\"', escape='\"', "
                   f"columns={{{colspec}}})")
        self.con.execute(f"create table {name} as select {select} from {src}")

    def close(self) -> None:
        self.con.close()

    def check(self, out_dir: str) -> list[str]:
        problems = []
        for index, (_, key, cols) in self.specs.items():
            path = current_version(out_dir, index)
            if path is None:
                problems.append(f"{index}: no published version")
                continue
            problems += self._compare(index, f"{path}/*.parquet", key, cols)
        return problems

    def _compare(self, index: str, glob: str, key: str,
                 cols: list[tuple[str, str]]) -> list[str]:
        con = self.con
        act = f"read_parquet('{glob}')"
        n_exp = con.execute(f"select count(*) from exp_{index}").fetchone()[0]
        n_act, n_ids = con.execute(
            f"select count(*), count(distinct {key}) from {act}").fetchone()
        out = []
        if n_act != n_exp or n_ids != n_act:
            out.append(f"{index}: {n_act} docs ({n_ids} distinct ids), expected {n_exp}")
        select = ", ".join(f"{expr} as a{i}" for i, (_, expr) in enumerate(cols))
        same = " and ".join(
            f"e.{c} is not distinct from a.a{i}" for i, (c, _) in enumerate(cols))
        bad = con.execute(f"""
            select coalesce(e.id, a.k) from exp_{index} e
            full outer join (select {key} as k, {select} from {act}) a on e.id = a.k
            where e.id is null or a.k is null or not ({same})
            order by 1 limit 3""").fetchall()
        if bad:
            n_bad = con.execute(f"""
                select count(*) from exp_{index} e
                full outer join (select {key} as k, {select} from {act}) a on e.id = a.k
                where e.id is null or a.k is null or not ({same})""").fetchone()[0]
            out.append(f"{index}: {n_bad} documents differ, e.g. {[b[0] for b in bad]}")
        return out
