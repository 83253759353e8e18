"""study_refresh: the paper's operational loop.

K studies share one bronze store and one gold store. Each step refreshes
one study: its changed views are loaded with ``streaming.ingest.
ingest_batch``, the JSON study program is parsed with ``config.program.
study_from_dict``, ``Engine.run_study`` derives the seven analytes over
bronze keyed reads, ``sinks.txlog.tx_merge_upsert`` merges the result
into gold keyed on (study_code, subject), and ``read_gold_tx`` reads the
gold snapshot back. The correctness check compares the final gold
snapshot with a DuckDB replay of the same program over the latest views.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from oracle import compare
from probes import materialize, tree_bytes, tree_files, written_since

FMT_DT = "%d-%m-%Y %H:%M"
FMT_D = "%Y-%m-%d"


def _scan(name, view, columns, filt=None):
    return {"name": name, "source": "bronze", "path": "@BRONZE@",
            "keys": {"study_code": "@STUDY@", "view": view},
            "columns": columns, "distinct": True,
            **({"filter": filt} if filt else {})}


def _op(kind, target, inputs, **args):
    return {"op": kind, "target": target, "inputs": inputs, "args": args}


def _dt(target, column, fmt=FMT_DT):
    return _op("FORMAT COLUMN", target, [target], column=column,
               type="datetime", format=fmt)


def _earliest(name, code, other_view, other_cols, other_filter, out_col):
    """The subject_death / subject_ltfu shape: two filtered scans, date
    parsing, full outer join, row-wise min, per-subject min, null drop."""
    a_date, b_date = "DSSTDAT", other_cols[1]
    return {
        "analyte": name,
        "scans": [
            _scan("ds", "DS", ["Subject", a_date], f"DSDECOD_STD = {code}"),
            _scan("other", other_view, other_cols, other_filter),
        ],
        "ops": [
            _dt("ds", a_date), _dt("other", b_date),
            _op("RENAME COLUMN", "ds", ["ds"], renames={"Subject": "subject"}),
            _op("RENAME COLUMN", "other", ["other"],
                renames={"Subject": "subject"}),
            _op("OUTER JOIN", "j", ["ds", "other"], on=["subject"]),
            _op("AGGREGATE COLUMN", "j", ["j"], new_column=out_col, op="min",
                columns=[a_date, b_date]),
            _op("GROUPBY SUMMARISE", "j", ["j"], group_by=["subject"],
                aggs=[[out_col, "min", out_col]]),
            _op("REMOVE ROWS", name, ["j"], column=out_col),
        ],
    }


#: The study program: the seven analyte shapes of FIXTURES.md §1-3 over
#: bronze keyed reads. ``@STUDY@`` and ``@BRONZE@`` are filled per study.
PROGRAM = {
    "study_code": "@STUDY@",
    "spine_key": "subject",
    "analytes": [
        {
            "analyte": "country_site_subject",
            "scans": [_scan("enrol", "ENROL", ["SiteGroup", "SiteNumber"]),
                      _scan("ixrs", "IxRS", ["CentreNum", "ECode"])],
            "ops": [
                _op("RENAME COLUMN", "enrol", ["enrol"],
                    renames={"SiteGroup": "country", "SiteNumber": "site"}),
                _op("REMOVE ROWS", "enrol", ["enrol"], column="country"),
                _op("RENAME COLUMN", "ixrs", ["ixrs"],
                    renames={"CentreNum": "site", "ECode": "subject"}),
                _op("LEFT JOIN", "j", ["enrol", "ixrs"], on=["site"]),
                _op("REMOVE ROWS", "j", ["j"], column="subject"),
                _op("SELECT COLUMNS", "country_site_subject", ["j"],
                    columns=["country", "site", "subject"]),
            ],
        },
        _earliest("subject_death", "C28554", "DEATH", ["Subject", "DTH_DAT"],
                  None, "subject_death"),
        _earliest("subject_ltfu", "C48227", "SURVIVE", ["Subject", "SUR_DAT"],
                  "SURSTAT_STD = NUMBER(2)", "ltfu_date"),
        {
            "analyte": "last_contact",
            "scans": [
                _scan("hosp", "HOSPAD", ["Subject", "HADMSDT", "HADMEDT"]),
                _scan("dose", "DOSEDISC", ["Subject", "IPDC_DAT"],
                      "IP_DISC_STD = NUMBER(1)"),
                {"name": "sd", "source": "analyte", "path": "subject_death"},
            ],
            "ops": [
                _dt("hosp", "HADMSDT"), _dt("hosp", "HADMEDT"),
                _op("AGGREGATE COLUMN", "hosp", ["hosp"], new_column="lc",
                    op="max", columns=["HADMSDT", "HADMEDT"]),
                _op("ADD COLUMN", "hosp", ["hosp"], column="lt",
                    value="HOSPAD"),
                _op("SELECT COLUMNS", "hosp", ["hosp"],
                    columns=["Subject", "lc", "lt"]),
                _dt("dose", "IPDC_DAT"),
                _op("RENAME COLUMN", "dose", ["dose"],
                    renames={"IPDC_DAT": "lc"}),
                _op("ADD COLUMN", "dose", ["dose"], column="lt",
                    value="DOSDISC"),
                _op("RENAME COLUMN", "sd", ["sd"],
                    renames={"subject": "Subject", "subject_death": "lc"}),
                _op("ADD COLUMN", "sd", ["sd"], column="lt", value="Death"),
                _op("BIND ROWS", "u", ["hosp", "dose", "sd"]),
                _op("REMOVE ROWS", "u", ["u"], column="lc"),
                _op("RENAME COLUMN", "u", ["u"],
                    renames={"Subject": "subject"}),
                _op("SORT DATASET", "u", ["u"], columns=["lc", "lt"]),
                _op("GROUPBY SUMMARISE", "last_contact", ["u"],
                    group_by=["subject"],
                    aggs=[["lc", "max", "last_contact_date"],
                          ["lt", "last", "last_contact_type"]]),
            ],
        },
        {
            "analyte": "subther_pharm",
            "scans": [_scan("cap", "CAPRXHC",
                            ["Subject", "CXSDAT", "CXCHERAD"])],
            "lookup_tables": {"CAPRXHC": [{"key": "Yes", "output": 1},
                                          {"key": "No", "output": 0}]},
            "ops": [
                _dt("cap", "CXSDAT", FMT_D),
                _op("DECISION COLUMN", "cap", ["cap"],
                    lookup_column="CXCHERAD", new_column="concomitant",
                    table="CAPRXHC"),
                _op("RENAME COLUMN", "cap", ["cap"],
                    renames={"Subject": "subject",
                             "CXSDAT": "subther_start_date"}),
                _op("GROUPBY SUMMARISE", "subther_pharm", ["cap"],
                    group_by=["subject"],
                    aggs=[["subther_start_date", "min", "subther_start_date"],
                          ["concomitant", "max", "concomitant"]]),
            ],
        },
        {
            "analyte": "all_ipdc_date",
            "scans": [
                _scan("ex", "EX", ["Subject", "EXTRT"], "EXSTDAT = NOT NULL"),
                _scan("ex1", "EX1", ["Subject", "EXTRT"],
                      "EXSTDAT = NOT NULL"),
                _scan("dd1", "DOSEDISC1", ["Subject", "IPDC_DAT", "SD"]),
                _scan("dd2", "DOSEDISC2", ["Subject", "IPDC_DAT", "SD"]),
            ],
            "lookup_tables": {"TRT_STD": [
                {"key": "Carboplatin", "output": 1},
                {"key": "Paclitaxel", "output": 2},
                {"key": "Bevacizumab", "output": 3},
                {"key": "Durvalumab/Placebo", "output": 4}]},
            "ops": [
                _op("BIND ROWS", "ex", ["ex", "ex1"]),
                _op("BIND ROWS", "dd", ["dd1", "dd2"]),
                _op("RENAME COLUMN", "dd", ["dd"], renames={"SD": "EXTRT"}),
                _dt("dd", "IPDC_DAT", FMT_D),
                _op("LEFT JOIN", "j", ["ex", "dd"], on=["Subject", "EXTRT"]),
                _op("DECISION COLUMN", "j", ["j"], lookup_column="EXTRT",
                    new_column="treatment_std", table="TRT_STD"),
                _op("SORT DATASET", "j", ["j"],
                    columns=["treatment_std", "IPDC_DAT"], order="DESC"),
                _op("GROUPBY SLICE", "j", ["j"], group_by=["Subject"], n=1),
                _op("RENAME COLUMN", "j", ["j"],
                    renames={"Subject": "subject",
                             "IPDC_DAT": "all_ipdc_date"}),
                _op("REMOVE ROWS", "j", ["j"], column="all_ipdc_date"),
                _op("SELECT COLUMNS", "all_ipdc_date", ["j"],
                    columns=["subject", "all_ipdc_date"]),
            ],
        },
        {
            "analyte": "pltfu_thresh",
            "scans": [
                _scan("pfu", "PFU", ["Subject", "PFUTYP_STD"],
                      "PFUTYPSE = Yes"),
                {"name": "ai", "source": "analyte", "path": "all_ipdc_date"},
            ],
            "lookup_tables": {
                "PFUTYP_TBL": [
                    {"key": k, "output": v} for k, v in [
                        ("1", "regular"), ("2", "every second fu"),
                        ("3", "regular"), ("4", "end of study"),
                        ("5", "end of study"), ("6", "end of study"),
                        ("7", "every third fu"), ("8", "end of study")]],
                "PFUTYP_GRP_TBL": [
                    {"key": k, "output": v} for k, v in [
                        ("on treatment", 50), ("regular", 103),
                        ("every second fu", 185), ("end of study", 271),
                        ("every third fu", 1800)]],
            },
            "ops": [
                _op("RENAME COLUMN", "pfu", ["pfu"],
                    renames={"Subject": "subject"}),
                _op("DECISION COLUMN", "pfu", ["pfu"],
                    lookup_column="PFUTYP_STD", new_column="grp1",
                    table="PFUTYP_TBL"),
                _op("LEFT JOIN", "j", ["pfu", "ai"], on=["subject"]),
                _op("ATTACH COLUMN", "j", ["j"], operation="NULL",
                    new_column="pltfu_thresh_group", column="all_ipdc_date",
                    value="on treatment", else_column="grp1"),
                _op("DECISION COLUMN", "j", ["j"],
                    lookup_column="pltfu_thresh_group",
                    new_column="pltfu_thresh", table="PFUTYP_GRP_TBL"),
                _op("SELECT COLUMNS", "pltfu_thresh", ["j"],
                    columns=["subject", "pltfu_thresh",
                             "pltfu_thresh_group"]),
            ],
        },
    ],
}

#: DuckDB replay of PROGRAM over views that carry a study_code column
ORACLE_SQL = """
WITH
e AS (SELECT DISTINCT study_code, SiteGroup AS country, SiteNumber AS site
      FROM ENROL WHERE SiteGroup IS NOT NULL),
i AS (SELECT DISTINCT study_code, CentreNum AS site, ECode AS subject
      FROM IxRS),
css AS (SELECT e.study_code, e.country, e.site, i.subject
        FROM e JOIN i ON e.study_code = i.study_code AND e.site = i.site
        WHERE i.subject IS NOT NULL),
o_death AS (
  SELECT COALESCE(a.study_code, b.study_code) AS study_code,
         COALESCE(a.Subject, b.Subject) AS subject,
         MIN(least(strptime(a.DSSTDAT, '{dt}'), strptime(b.DTH_DAT, '{dt}')))
           AS subject_death
  FROM (SELECT DISTINCT study_code, Subject, DSSTDAT FROM DS
        WHERE DSDECOD_STD = 'C28554') a
  FULL OUTER JOIN (SELECT DISTINCT study_code, Subject, DTH_DAT FROM DEATH) b
    ON a.study_code = b.study_code AND a.Subject = b.Subject
  GROUP BY 1, 2 HAVING MIN(least(strptime(a.DSSTDAT, '{dt}'),
                                 strptime(b.DTH_DAT, '{dt}'))) IS NOT NULL),
ltfu AS (
  SELECT COALESCE(a.study_code, b.study_code) AS study_code,
         COALESCE(a.Subject, b.Subject) AS subject,
         MIN(least(strptime(a.DSSTDAT, '{dt}'), strptime(b.SUR_DAT, '{dt}')))
           AS ltfu_date
  FROM (SELECT DISTINCT study_code, Subject, DSSTDAT FROM DS
        WHERE DSDECOD_STD = 'C48227') a
  FULL OUTER JOIN (SELECT DISTINCT study_code, Subject, SUR_DAT FROM SURVIVE
                   WHERE CAST(SURSTAT_STD AS INTEGER) = 2) b
    ON a.study_code = b.study_code AND a.Subject = b.Subject
  GROUP BY 1, 2 HAVING MIN(least(strptime(a.DSSTDAT, '{dt}'),
                                 strptime(b.SUR_DAT, '{dt}'))) IS NOT NULL),
contacts AS (
  SELECT study_code, Subject AS subject,
         greatest(strptime(HADMSDT, '{dt}'), strptime(HADMEDT, '{dt}')) AS lc,
         'HOSPAD' AS lt
  FROM (SELECT DISTINCT study_code, Subject, HADMSDT, HADMEDT FROM HOSPAD)
  UNION ALL
  SELECT study_code, Subject, strptime(IPDC_DAT, '{dt}'), 'DOSDISC'
  FROM (SELECT DISTINCT study_code, Subject, IPDC_DAT FROM DOSEDISC
        WHERE CAST(IP_DISC_STD AS INTEGER) = 1)
  UNION ALL
  SELECT study_code, subject, subject_death, 'Death' FROM o_death),
last_contact AS (
  SELECT study_code, subject, lc AS last_contact_date,
         lt AS last_contact_type
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY study_code, subject
                                     ORDER BY lc DESC, lt DESC) AS rn
        FROM contacts WHERE lc IS NOT NULL) WHERE rn = 1),
subther AS (
  SELECT study_code, Subject AS subject,
         MIN(strptime(CXSDAT, '{d}')) AS subther_start_date,
         MAX(CASE CXCHERAD WHEN 'Yes' THEN 1 WHEN 'No' THEN 0 END)::BIGINT
           AS concomitant
  FROM (SELECT DISTINCT study_code, Subject, CXSDAT, CXCHERAD FROM CAPRXHC)
  GROUP BY 1, 2),
o_ex AS (SELECT DISTINCT study_code, Subject, EXTRT FROM EX
       WHERE EXSTDAT IS NOT NULL
       UNION ALL
       SELECT DISTINCT study_code, Subject, EXTRT FROM EX1
       WHERE EXSTDAT IS NOT NULL),
o_dd AS (SELECT DISTINCT study_code, Subject, IPDC_DAT, SD FROM DOSEDISC1
       UNION ALL
       SELECT DISTINCT study_code, Subject, IPDC_DAT, SD FROM DOSEDISC2),
ipdc AS (
  SELECT o_ex.study_code, o_ex.Subject, strptime(o_dd.IPDC_DAT, '{d}') AS ipdc,
         CASE o_ex.EXTRT WHEN 'Carboplatin' THEN 1 WHEN 'Paclitaxel' THEN 2
              WHEN 'Bevacizumab' THEN 3 WHEN 'Durvalumab/Placebo' THEN 4
         END AS treatment_std
  FROM o_ex LEFT JOIN o_dd ON o_ex.study_code = o_dd.study_code
       AND o_ex.Subject = o_dd.Subject AND o_ex.EXTRT = o_dd.SD),
all_ipdc AS (
  SELECT study_code, Subject AS subject, ipdc AS all_ipdc_date
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY study_code, Subject
          ORDER BY treatment_std DESC NULLS LAST, ipdc DESC NULLS LAST) AS rn
        FROM ipdc) WHERE rn = 1 AND ipdc IS NOT NULL),
o_pfu AS (
  SELECT p.study_code, p.subject,
         CASE WHEN a.all_ipdc_date IS NULL THEN 'on treatment' ELSE
           CASE p.PFUTYP_STD WHEN '1' THEN 'regular'
                WHEN '2' THEN 'every second fu' WHEN '3' THEN 'regular'
                WHEN '7' THEN 'every third fu'
                WHEN '4' THEN 'end of study' WHEN '5' THEN 'end of study'
                WHEN '6' THEN 'end of study' WHEN '8' THEN 'end of study'
           END END AS pltfu_thresh_group
  FROM (SELECT DISTINCT study_code, Subject AS subject, PFUTYP_STD FROM PFU
        WHERE PFUTYPSE = 'Yes') p
  LEFT JOIN all_ipdc a ON p.study_code = a.study_code
       AND p.subject = a.subject),
pltfu AS (
  SELECT study_code, subject, pltfu_thresh_group,
         (CASE pltfu_thresh_group WHEN 'on treatment' THEN 50
               WHEN 'regular' THEN 103 WHEN 'every second fu' THEN 185
               WHEN 'end of study' THEN 271 WHEN 'every third fu' THEN 1800
          END)::BIGINT AS pltfu_thresh
  FROM o_pfu)
SELECT css.study_code, css.country, css.site, css.subject,
       o_death.subject_death, ltfu.ltfu_date,
       last_contact.last_contact_date, last_contact.last_contact_type,
       subther.subther_start_date, subther.concomitant,
       all_ipdc.all_ipdc_date, pltfu.pltfu_thresh, pltfu.pltfu_thresh_group
FROM css
LEFT JOIN o_death USING (study_code, subject)
LEFT JOIN ltfu USING (study_code, subject)
LEFT JOIN last_contact USING (study_code, subject)
LEFT JOIN subther USING (study_code, subject)
LEFT JOIN all_ipdc USING (study_code, subject)
LEFT JOIN pltfu USING (study_code, subject)
""".format(dt=FMT_DT, d=FMT_D)


def _rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


class StudyRefresh:
    """One step = one study refresh; one round = every study once."""

    MIN_ROUNDS = 1  # ~30 s cold; a second round would not fit a run

    def __init__(self, ctx, inputs: str, work: str, manifest: dict):
        from pyspark.sql import functions as F

        from configurable_etl_python_repo_spark.config.program import (
            study_from_dict,
        )
        from configurable_etl_python_repo_spark.plans import Engine
        from configurable_etl_python_repo_spark.sinks.txlog import (
            read_gold_tx, tx_merge_upsert,
        )
        from configurable_etl_python_repo_spark.sources.bronze import (
            read_bronze,
        )
        from configurable_etl_python_repo_spark.streaming.ingest import (
            ingest_batch,
        )

        self.F, self.Engine = F, Engine
        self.study_from_dict, self.read_bronze = study_from_dict, read_bronze
        self.ingest_batch = ingest_batch
        self.tx_merge_upsert, self.read_gold_tx = tx_merge_upsert, read_gold_tx
        self.ctx, self.inputs = ctx, inputs
        self.studies = manifest["studies"]
        self.views = manifest["views"]
        self.bronze = os.path.join(work, "bronze")
        self.gold = os.path.join(work, "gold")
        # the pre-loaded bronze store is an input; copy it into place
        shutil.copytree(os.path.join(inputs, "bronze"), self.bronze)
        template = json.dumps(PROGRAM).replace("@BRONZE@", self.bronze)
        self.program_text = {
            s["study_code"]: template.replace("@STUDY@", s["study_code"])
            for s in self.studies}
        # latest file of every (study, view): the oracle's input
        self.current = {
            s["study_code"]: {v: self._view_file(s["study_code"], 0, v)
                              for v in self.views}
            for s in self.studies}
        self.input_bytes = tree_bytes(self.bronze)
        self.refreshes = [0] * len(self.studies)
        self.history: list[tuple[str, dict]] = []  # view files per refresh

    def _view_file(self, code: str, version: int, view: str) -> str:
        return os.path.join(self.inputs, "views", code, f"v{version}",
                            f"{view}.parquet")

    def storage_dirs(self) -> list[str]:
        return [self.bronze, self.gold]

    def space(self) -> tuple[int, int]:
        """(live bytes of bronze and gold, input bytes loaded so far)."""
        return tree_bytes(self.bronze) + tree_bytes(self.gold), \
            self.input_bytes

    def run_round(self, rnd: int) -> None:
        for k in range(len(self.studies)):
            self.ctx.run_step(f"refresh:{self.studies[k]['study_code']}",
                              lambda k=k: self._refresh(k))

    def _refresh(self, k: int) -> int:
        ctx, tr, spark, F = self.ctx, self.ctx.tracer, self.ctx.spark, self.F
        study = self.studies[k]
        code = study["study_code"]
        version = self.refreshes[k] % len(study["drops"]) + 1
        self.refreshes[k] += 1
        rows = 0
        with tr.span("ingest"):
            for view in study["drops"][version - 1]:
                path = self._view_file(code, version, view)
                rows += _rows(path)
                self.input_bytes += os.path.getsize(path)
                before = tree_files(self.bronze) if tr.enabled else None
                with tr.span("ingest.batch") as sp:
                    self.ingest_batch(
                        spark.read.parquet(path), self.bronze, code,
                        view_of_file={f"{view}.parquet": view})
                if sp is not None:
                    nbytes, nfiles = written_since(
                        before, tree_files(self.bronze))
                    tr.count("ingest.bytes_written", nbytes)
                    tr.count("ingest.files_written", nfiles)
                self.current[code][view] = path
        self.history.append((code, dict(self.current[code])))
        rows += sum(_rows(p) for p in self.current[code].values())
        with tr.span("config.parse"):
            plan = self.study_from_dict(json.loads(self.program_text[code]))
        engine = self.Engine(spark)
        with tr.span("plans.build"):
            standardized = engine.run_study(plan)
        gold_rows = standardized.withColumn("study_code", F.lit(code))
        if tr.enabled:
            self._isolate(engine, plan, code, gold_rows)
        before = tree_files(self.gold) if tr.enabled else None
        with tr.span("txlog.merge") as sp:
            commit = self.tx_merge_upsert(spark, self.gold, gold_rows,
                                          ["study_code", "subject"])
        if sp is not None:
            nbytes, _ = written_since(before, tree_files(self.gold))
            tr.count("txlog.bytes_written", nbytes)
            tr.count("txlog.commits", commit)
        with tr.span("txlog.read"):
            snapshot = self.read_gold_tx(spark, self.gold)
            snapshot.count()
        if tr.enabled:
            # parquet reads the snapshot unions: one per commit directory
            commits = {os.path.dirname(os.path.dirname(f))
                       for f in snapshot.inputFiles()}
            tr.count("txlog.snapshot_dirs", len(commits))
        # run_study caches analytes with several consumers; the next
        # refresh of this study overwrites their bronze files, and a
        # cached plan over the same paths would serve the old rows
        spark.catalog.clearCache()
        return rows

    def _isolate(self, engine, plan, code, gold_rows) -> None:
        """Traced rounds only: materialize a bronze read, every analyte
        and the spine on their own, and measure the merge's waste ratio."""
        ctx, tr = self.ctx, self.ctx.tracer
        with ctx.isolated("sources.bronze_read"):
            rows, _ = materialize(self.read_bronze(ctx.spark, self.bronze,
                                                   code, "DS"))
        tr.count("sources.bronze_rows", rows)
        for analyte in plan.analytes:
            with ctx.isolated(f"plans.analyte.{analyte.name}"):
                materialize(engine.analyte_results[analyte.name])
        with ctx.isolated("plans.spine"):
            _, counts = materialize(gold_rows)
        ctx.record_plan(counts)
        written, changed = self._merge_rows(code, gold_rows)
        tr.count("txlog.rows_written_per_row_changed",
                 written / max(changed, 1))

    def _merge_rows(self, code: str, gold_rows) -> tuple[int, int]:
        """(rows the merge will write, rows it adds or changes): the
        merge rewrites the study's whole partition, the new rows plus the
        old rows whose key the update does not carry."""
        new = {tuple(map(str, r)) for r in gold_rows.collect()}
        if not os.path.isdir(self.gold):
            return len(new), len(new)
        old = {tuple(map(str, r)) for r in
               self.read_gold_tx(self.ctx.spark, self.gold)
               .where(self.F.col("study_code") == code)
               .select(*gold_rows.columns).collect()}
        key = [gold_rows.columns.index(c) for c in ("study_code", "subject")]
        new_keys = {tuple(r[i] for i in key) for r in new}
        kept = sum(tuple(r[i] for i in key) not in new_keys for r in old)
        return len(new) + kept, len(new - old)

    def check(self) -> list[str]:
        """Gold snapshot vs the DuckDB replay of every refresh in order:
        each refresh's oracle result upserted by (study_code, subject),
        the tx_merge_upsert contract."""
        got = self.read_gold_tx(self.ctx.spark, self.gold).toPandas()
        want: dict[tuple, dict] = {}
        con = duckdb.connect()
        try:
            for code, files in self.history:
                for view in self.views:
                    con.execute(
                        f'CREATE OR REPLACE VIEW "{view}" AS SELECT '
                        f"'{code}' AS study_code, * FROM "
                        f"read_parquet('{files[view]}')")
                for row in con.execute(ORACLE_SQL).fetchdf().to_dict(
                        "records"):
                    want[(row["study_code"], row["subject"])] = row
        finally:
            con.close()
        want_df = pd.DataFrame(list(want.values()), columns=got.columns)
        problems = []
        for study in self.studies:
            code = study["study_code"]
            problems += compare(f"gold[{code}]",
                                got[got.study_code == code],
                                want_df[want_df.study_code == code])
        return problems
