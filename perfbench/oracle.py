"""DuckDB oracle: the gold triples and graph of a generated corpus, derived
from the template grammar by ``stanza_spark.synth`` (no Spark involved),
compared with the parquet files the program wrote."""

from __future__ import annotations

import duckdb

from stanza_spark.synth import Dialect, gold_graph_select, gold_triples_select

_DUCK = Dialect("duckdb")
_TRIPLE_KEY = "url, sent_id, subj, pred, obj"
_GRAPH_KEY = "subj_canon, pred, obj_canon, support"


def _files(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


class Oracle:
    """Gold answers for ``documents.parquet`` in ``docs_dir``, optionally
    restricted to ``doc_id < max_doc_id`` (the increments seen so far)."""

    def __init__(self, docs_dir: str):
        self.docs = f"{docs_dir}/documents.parquet"
        self.con = duckdb.connect()

    def close(self):
        self.con.close()

    def _use_docs(self, max_doc_id: int | None):
        where = "" if max_doc_id is None else f" WHERE doc_id < {int(max_doc_id)}"
        self.con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                         f"read_parquet('{self.docs}'){where}")

    def triples(self, files: list[str]) -> tuple[int, int, int]:
        """-> (true positives, predicted, gold) over (url, sent_id, subj,
        pred, obj) for the whole corpus, counting duplicates (multiset
        semantics)."""
        self._use_docs(None)
        return self.con.execute(
            f"WITH p AS (SELECT {_TRIPLE_KEY} FROM read_parquet({_files(files)})), "
            f"g AS (SELECT {_TRIPLE_KEY} FROM ({gold_triples_select(_DUCK)})) "
            "SELECT (SELECT count(*) FROM (SELECT * FROM p INTERSECT ALL "
            "SELECT * FROM g)), (SELECT count(*) FROM p), "
            "(SELECT count(*) FROM g)").fetchone()

    def graph_diff(self, graph, max_doc_id: int | None = None) -> tuple[int, int]:
        """``graph``: a pyarrow table of the program's graph.  -> (rows only
        in it, rows only in the gold graph) over (subj_canon, pred,
        obj_canon, support)."""
        self._use_docs(max_doc_id)
        self.con.register("program_graph", graph)
        try:
            return self.con.execute(
                f"WITH p AS (SELECT {_GRAPH_KEY} FROM program_graph), "
                f"g AS MATERIALIZED (SELECT {_GRAPH_KEY} FROM "
                f"({gold_graph_select(_DUCK)})) "
                "SELECT (SELECT count(*) FROM (SELECT * FROM p EXCEPT ALL "
                "SELECT * FROM g)), (SELECT count(*) FROM (SELECT * FROM g "
                "EXCEPT ALL SELECT * FROM p))").fetchone()
        finally:
            self.con.unregister("program_graph")
