"""The reference workbench's three pages as one facade (SURVEY §3 E1–E3):
Profiler → Detector → Corrector, for users switching from the reference.

    wb = Workbench.load(spark, "data.csv")          # upload (E1)
    wb.profile()                                    # Data Profiler page
    wb.detect([rules.rule_email("email")])          # DQ Detector (E2)
    (wb.title_case("name").find_replace("city", "Ist", "İst")
       .drop_rows([13]))                            # Corrector (E3)
    wb.detect([...])                                # re-measure → "after"
    wb.report()                                     # before/after + overall
    wb.save("clean.parquet")                        # download

The reference mutates one cached table in place; here every correction is
a lineage step on an immutable head (RepairSession), and before/after
scores are snapshots of two lineage points: ``detect`` measures when it is
called and keeps the few summary rows in Python, and ``report`` is
assembled from those snapshots without running a Spark job.

Like the reference's one cached upload, a data version is profiled once.
Every correction and ``checkpoint`` starts a new version; on one version a
repeated ``profile``, and a ``null_profile`` of profiled columns, are
answered from the profile rows already kept, with no job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from dataqtor_spark import session as S
from dataqtor_spark.functions.sqltext import ident, lit, pct
from dataqtor_spark.operators import profile as P
from dataqtor_spark.operators import repair as RP
from dataqtor_spark.operators import rules as R

# A snapshot keeps the evaluate_rules rows.  The relations rebuilt from it
# recompute dq_score from the counts with evaluate_rules' own formula, so
# they keep the summary's types (dq_score is a nullable double).
_COUNTS = R.SUMMARY_COLUMNS[:-1]
_SUMMARY = ", ".join(ident(c) for c in _COUNTS)
_DQ_SCORE = f"{pct('proper_format_records', 'total_records')} AS dq_score"
# the mean of the scores in rule order: the same double as avg() over rows
_OVERALL = ("round(aggregate(scores, 0D, (a, x) -> a + x) / size(scores), 2)"
            " AS overall_dq_score")


def _literals(m: int, row: Row) -> list[str]:
    """Measurement ``m``'s snapshot row (rule, column, counts…, dq_score)
    as SQL literals, without the score."""
    rule, column, *counts, _ = row
    return [lit(m), lit(rule), lit(column), *[f"{n}L" for n in counts]]


def _inline(spark: SparkSession, select: str, names: list[str],
            rows: list[list[str]]) -> DataFrame:
    """``SELECT … FROM VALUES …`` over at least one row: the optimizer
    folds it into a local table, so collecting it runs 0 Spark jobs, and
    ``select`` derives columns (``dq_score``, ``null_pct``) from the kept
    counts with the operators' own SQL formulas, so they keep the
    operators' types."""
    values = ", ".join("(" + ", ".join(r) + ")" for r in rows)
    return spark.sql(f"SELECT {select} FROM VALUES {values} "
                     f"AS t({', '.join(ident(n) for n in names)})")


class Workbench:
    """One dataset + its measurement/repair lifecycle."""

    def __init__(self, df: DataFrame):
        self._sess = RP.RepairSession(df)
        self._snapshots: list[list[Row]] = []
        # the last profile_columns call on the current head: its columns,
        # schema and rows; every repair and checkpoint drops it
        self._profile: tuple[list[str], T.StructType, list[Row]] | None = None

    # --- E1: upload -------------------------------------------------------

    @classmethod
    def load(cls, spark: SparkSession, path: str, **kw) -> "Workbench":
        return cls(S.ingest(spark, path, **kw))

    @property
    def df(self) -> DataFrame:
        return self._sess.df

    # --- E2: profile + detect ---------------------------------------------

    def profile(self, cols: list[str] | None = None) -> DataFrame:
        """``P.profile_columns`` of the current head, measured now (one
        aggregate job) and kept until the next repair or checkpoint; asked
        again for the same columns, it is served from the kept rows.
        Returns the rows as a ``local_frame`` of the same schema:
        collecting it runs no Spark job."""
        cols = P._data_cols(self.df, cols)
        if self._profile is None or self._profile[0] != cols:
            fresh = P.profile_columns(self.df, cols)
            self._profile = (cols, fresh.schema, fresh.collect())
        _, schema, rows = self._profile
        return S.local_frame(self.df.sparkSession, rows, schema)

    def null_profile(self, cols: list[str] | None = None) -> DataFrame:
        """``P.null_profile``: from the kept profile rows when every column
        was profiled on this data version (no job), else lazily."""
        cols = P._data_cols(self.df, cols)
        rows = {r["column"]: r for r in self._profile[2]} if self._profile else {}
        if not cols or not all(c in rows for c in cols):
            return P.null_profile(self.df, cols)
        filled = "(total_records - null_records)"
        return _inline(
            self.df.sparkSession,
            f"`column`, total_records, null_records, {filled} AS filled_records, "
            f"{pct('null_records', 'total_records')} AS null_pct, "
            f"{pct(filled, 'total_records')} AS filled_pct",
            ["column", "total_records", "null_records"],
            [[lit(c), f"{rows[c]['total_records']}L", f"{rows[c]['null_records']}L"]
             for c in cols])

    def detect(self, rules: list[R.Rule]) -> DataFrame:
        """Measure the rules on the current head now (one aggregate job)
        and keep the summary rows as a snapshot for ``report`` (A15).
        Returns the snapshot, with its ``measurement`` number, as an inline
        relation: collecting it runs no Spark job."""
        rows = R.evaluate_rules(self.df, rules).collect()
        self._snapshots.append(rows)
        m = len(self._snapshots) - 1
        return _inline(self.df.sparkSession,
                       f"{_SUMMARY}, {_DQ_SCORE}, measurement",
                       ["measurement", *_COUNTS],
                       [_literals(m, r) for r in rows])

    def report(self) -> DataFrame:
        """All measurements unioned (the before/after table), with the
        overall score per measurement (A16).  Assembled from the snapshots
        ``detect`` took, so it runs no Spark job and still answers after
        the source data has changed or gone."""
        if not self._snapshots:
            raise ValueError("no measurements yet — call detect() first")
        rows = []
        for m, snap in enumerate(self._snapshots):
            scores = f"array({', '.join(lit(r['dq_score']) for r in snap)})"
            rows += [[*_literals(m, r), scores] for r in snap]
        return _inline(self.df.sparkSession,
                       f"measurement, {_SUMMARY}, {_DQ_SCORE}, {_OVERALL}",
                       ["measurement", *_COUNTS, "scores"], rows)

    # --- E3: corrector (each returns self for chaining) --------------------

    def _apply(self, fn, *a, **kw) -> "Workbench":
        self._sess.apply(fn, *a, **kw)
        self._profile = None
        return self

    def title_case(self, col: str): return self._apply(RP.title_case, col)
    def lower_case(self, col: str): return self._apply(RP.lower_case, col)
    def upper_case(self, col: str): return self._apply(RP.upper_case, col)
    def collapse_spaces(self, col: str): return self._apply(RP.collapse_spaces, col)
    def strip_chars(self, col, chars=None): return self._apply(RP.strip_chars, col, chars)
    def find_replace(self, col, find, rep): return self._apply(RP.find_replace, col, find, rep)
    def remap_value(self, col, old, new): return self._apply(RP.remap_value, col, old, new)
    def fill_nulls(self, col, value): return self._apply(RP.fill_nulls, col, value)
    def update_cell(self, row_id, col, value): return self._apply(RP.update_cell, row_id, col, value)
    def drop_rows(self, row_ids): return self._apply(RP.drop_rows, row_ids)
    def drop_column(self, col): return self._apply(RP.drop_column, col)
    def project(self, cols): return self._apply(RP.project, cols)
    def sort_rows(self, cols, ascending=None): return self._apply(RP.sort_rows, cols, ascending)
    def search(self, col, op, value=None, **kw) -> DataFrame:
        return RP.search(self.df, col, op, value, **kw)

    def checkpoint(self) -> "Workbench":
        self._sess.checkpoint()
        self._profile = None
        return self

    # --- expectation-suite shortcuts (rules v2 + suggestion) ---------------

    def suggest_constraints(self, cols: list[str] | None = None) -> DataFrame:
        """Profile → proposed expectations (deequ-style); feed back into
        detect() as rules on the next batch."""
        return P.suggest_constraints(self.df, cols)

    def unique_key(self, key_cols: list[str]) -> DataFrame:
        """Composite-key uniqueness violations."""
        return R.unique_key_violations(self.df, key_cols)

    def completeness_by(self, value_col: str, group_col: str) -> DataFrame:
        """Per-group null-rate slice of one column."""
        return R.group_completeness(self.df, value_col, group_col)

    def diff_against(self, other: "Workbench | DataFrame",
                     key_cols: list[str],
                     compare_cols: list[str]) -> DataFrame:
        """Keyed snapshot diff vs another table version (added / removed /
        changed, null-safe)."""
        from dataqtor_spark.operators import scd as SCD

        o = other.df if isinstance(other, Workbench) else other
        return SCD.snapshot_diff(o, self.df, key_cols, compare_cols)

    # --- download ----------------------------------------------------------

    def save(self, path: str, fmt: str = "parquet", **kw) -> None:
        S.write_dataset(self.df, path, fmt=fmt, **kw)
