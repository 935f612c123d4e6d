"""Expected answers for every operation the benchmark times, derived
without Spark, and the comparison that turns them into `correct`.

- Registry queries: the query's DuckDB oracle twin (`Query.oracle`).
- MCP tools: the bound registry query's oracle result, with the tool's
  own filter (id, thread, group_by, date window, limit) applied here.
- `search_emails` / `ask_email_question`: the registry's cosine SQL
  (`_COS`) over the stub embedder's vector for the text, rounded to
  float32 as the Arrow UDF returns it.
- `get_email_by_id` runs with include_attachments=False: the
  attachment array is md5-derived inside the engine and has no oracle
  of its own, so only the document lookup is checked.

Rows are compared in `tests.oracle.canonical_rows` form. Oracle results
are cached under the state directory, keyed by a fingerprint of the
corpus files and the oracle SQL, so a checkout pays each one once.
"""

from __future__ import annotations

import hashlib
import os
import pickle
from datetime import date
from decimal import Decimal

from tests.oracle import canonical_rows, run_oracle

# analyze_email_patterns' group_by enum -> the registry query it is
# bound to (mcp.MCP_TOOLS: "patterns_by_user/_domain/_type/_day/_week")
PATTERN_QUERIES = {
    "sender": "patterns_by_user",
    "domain": "patterns_by_domain",
    "label": "patterns_by_type",
    "day": "patterns_by_day",
    "week": "patterns_by_week",
}


def corpus_fingerprint(corpus: str) -> str:
    """sha256 over the names and bytes of the corpus's parquet files."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(corpus)):
        if not name.endswith(".parquet"):
            continue
        h.update(name.encode())
        with open(os.path.join(corpus, name), "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]


def diff(op: str, got_cols, got_rows, exp_cols, exp_rows) -> str | None:
    """None when the outputs match; otherwise a message naming the op
    and its first differing row in canonical order."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"{op}: columns {list(got_cols)} != expected {list(exp_cols)}"
    got = canonical_rows(list(got_cols), got_rows)
    exp = canonical_rows(list(exp_cols), exp_rows)
    if got == exp:
        return None
    for i, (g, e) in enumerate(zip(got, exp)):
        if g != e:
            return f"{op}: row {i} differs: got {g!r}, expected {e!r}"
    extra = got[len(exp)] if len(got) > len(exp) else exp[len(got)]
    return f"{op}: {len(got)} rows, expected {len(exp)}; first unmatched row {extra!r}"


def java_double_str(v: float) -> str:
    """Spark's CAST(double AS STRING), which is java.lang.Double.toString:
    plain decimals in [1e-3, 1e7), computerized scientific otherwise."""
    if v == 0:
        return "-0.0" if str(v).startswith("-") else "0.0"
    if 1e-3 <= abs(v) < 1e7:
        return repr(v)
    sign, digits, exponent = Decimal(repr(v)).normalize().as_tuple()
    mant = f"{digits[0]}." + ("".join(map(str, digits[1:])) or "0")
    return ("-" if sign else "") + f"{mant}E{len(digits) - 1 + exponent}"


class Expected:
    """Oracle answers over one corpus, cached on disk."""

    def __init__(self, corpus: str, cache_dir: str):
        self.corpus = corpus
        self.cache_dir = cache_dir
        self.fingerprint = corpus_fingerprint(corpus)
        self._mem: dict[str, tuple[list[str], list[tuple]]] = {}
        self._rankings: dict[str, list[tuple]] = {}

    # -- oracle results ---------------------------------------------------
    def sql(self, sql: str) -> tuple[list[str], list[tuple]]:
        key = hashlib.sha256(f"{self.fingerprint}\0{sql}".encode()).hexdigest()[:24]
        if key in self._mem:
            return self._mem[key]
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                res = pickle.load(f)  # written by this module only
        else:
            res = run_oracle(sql, self.corpus)
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                pickle.dump(res, f)
            os.replace(tmp, path)
        self._mem[key] = res
        return res

    def query(self, name: str) -> tuple[list[str], list[tuple]]:
        from email_etl_spark.plans.registry import REGISTRY

        return self.sql(REGISTRY[name].oracle)

    # -- search / ask -----------------------------------------------------
    def prepare_texts(self, texts) -> None:
        """Rank every document against each text in one DuckDB pass."""
        import numpy as np

        from email_etl_spark.llm.stub import _embed_one
        from email_etl_spark.plans.search import _COS

        todo = sorted(set(texts) - set(self._rankings))
        if not todo:
            return
        values = []
        for i, text in enumerate(todo):
            vec = np.asarray(_embed_one(text), dtype=np.float32).astype(np.float64)
            values.append(f"({i}, [{', '.join(repr(float(x)) for x in vec)}]::DOUBLE[])")
        cos = _COS.format(a="e.embedding", b="q.qvec")
        cols, rows = run_oracle(
            f"""
SELECT q.qid, d.doc_id, d.lang, d.source, {cos} AS similarity,
       substr(d.text, 1, 200) AS snippet, d.text AS text
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
CROSS JOIN (VALUES {', '.join(values)}) q(qid, qvec)
""",
            self.corpus,
        )
        by_q: dict[int, list[tuple]] = {i: [] for i in range(len(todo))}
        for r in rows:
            by_q[r[0]].append(r[1:])
        for i, text in enumerate(todo):
            self._rankings[text] = sorted(by_q[i], key=lambda r: (-r[3], r[0]))

    def _hits(self, text, limit, date_from, date_to):
        from email_etl_spark.plans.search import DOCS_PER_DAY, EPOCH_DATE

        # the tool's date window: doc k arrives on EPOCH + k div DOCS_PER_DAY
        epoch = date.fromisoformat(EPOCH_DATE)
        lo = hi = None
        if date_from:
            lo = (date.fromisoformat(date_from[:10]) - epoch).days * DOCS_PER_DAY
        if date_to:
            hi = ((date.fromisoformat(date_to[:10]) - epoch).days + 1) * DOCS_PER_DAY - 1
        self.prepare_texts([text])
        hits = [
            r for r in self._rankings[text]
            if (lo is None or r[0] >= lo) and (hi is None or r[0] <= hi)
        ]
        return hits[:limit]

    # -- MCP tools ----------------------------------------------------------
    def tool(self, name: str, p: dict) -> tuple[list[str], list[tuple]]:
        """Expected (columns, rows) of mcp.run_tool(name, p).collect()."""
        if name == "search_emails":
            hits = self._hits(p["query"], p.get("limit", 10), p.get("date_from"), p.get("date_to"))
            full = p.get("include_content", False)
            return (
                ["doc_id", "lang", "source", "similarity", "snippet"],
                [(d, lang, src, sim, text if full else snip) for d, lang, src, sim, snip, text in hits],
            )
        if name == "ask_email_question":
            hits = self._hits(p["question"], p.get("context_limit", 5), p.get("date_from"), p.get("date_to"))
            blocks = [
                f"Doc {d} (similarity {java_double_str(sim)}):\n{snip}"
                for d, _, _, sim, snip, _ in hits
            ]
            return ["question", "n_sources", "context"], [(p["question"], len(hits), "\n---\n".join(blocks))]
        if name == "get_email_by_id":
            cols, rows = self.sql("SELECT * FROM documents")
            i = cols.index("doc_id")
            return cols, [r for r in rows if r[i] == p["email_id"]]
        if name == "summarize_thread":
            cols, rows = self.query("thread_summary")
            i = cols.index("user_id")
            return cols, [r for r in rows if str(r[i]) == p["thread_id"]]
        if name == "categorize_emails":
            cols, rows = self.query("categorize_docs")
            i = cols.index("doc_id")
            if p.get("email_ids"):
                ids = set(p["email_ids"])
                return cols, [r for r in rows if r[i] in ids]
            return cols, sorted(rows, key=lambda r: -r[i])[: p.get("limit", 10)]
        if name == "extract_action_items":
            return self._actions(p.get("days", 7), p.get("limit", 50))
        if name == "get_system_status":
            return self.query("provider_status")
        if name == "sync_emails":
            return self.query("incremental_sync")
        if name == "analyze_email_patterns":
            return self.query(PATTERN_QUERIES[p.get("group_by", "sender")])
        raise KeyError(f"no expected answer for tool {name!r}")

    def _actions(self, days: int, limit: int):
        from email_etl_spark.plans.search import DOCS_PER_DAY

        dcols, docs = self.sql("SELECT * FROM documents")
        max_id = max(r[dcols.index("doc_id")] for r in docs)
        cols, rows = self.query("action_items")
        i, j = cols.index("doc_id"), cols.index("description")
        recent = sorted(
            (r for r in rows if r[i] > max_id - days * DOCS_PER_DAY),
            key=lambda r: (r[i], r[j]),
        )
        if limit < len(recent):
            # the tool orders by (doc_id, description) only: a cut through
            # rows equal on both would make the expected answer ambiguous
            cut, nxt = recent[limit - 1], recent[limit]
            if (cut[i], cut[j]) == (nxt[i], nxt[j]) and cut != nxt:
                raise ValueError(f"extract_action_items limit {limit} cuts a tie")
        return cols, recent[:limit]
