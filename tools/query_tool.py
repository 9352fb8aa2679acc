"""Interactive query REPL — the analogue of the reference's QueryTool
(reference tools/.../QueryTool.java:85: CQL in; command list at
QueryTool.java:636-860).

Usage: python tools/query_tool.py <index_dir>
Commands:
  <CQL pattern>           run a span query, show first page of KWICs
                          (`@@listname` substitutes a word from a
                          loaded wordlist, QueryTool.java:1057-1074)
  topk <query terms>      BM25 top-k documents
  next / prev / page <n>  page through current hits
  pagesize <n>            hits per page (reference `pagesize`)
  context <n>             KWIC context size in words (reference `context`)
  snippetsize <n>         snippet context chars (reference `snippetsize`)
  sort hit|left|right|<crit>   re-sort current hits (HitProperty DSL)
  group hit|<meta col>|<crit:...>  group current hits (HitProperty DSL)
  filter [<LuceneQL>]     set/clear a metadata filter for NEW queries
  sensitive on|off        default match sensitivity for bare terms
  doc <doc_id>            show document contents (content store)
  doctitle <field>        metadata field shown as the doc header
  stripxml on|off         strip tags when showing doc contents
  snippet <hit#>          larger snippet around one hit of the page
  concfi on|off           concordances from forward index / content store
  showconc on|off         show concordance lines or only counts
  verbose on|off          per-command wall-clock timing
  colloc                  collocations of the current hits
  sample <n>|<p>%         seeded sample of current hits
  count                   total hits / docs
  total on|off            off = running count (waitfortotal=no)
  struct / props          index structure / annotation list
  wordlist [<file> [name] | <name>]   load / list / show wordlists
  repeat <n> <cmd>        run a command n times (perf probe)
  explain <CQL>           show rewrite trace
  freq [prefix]           term frequencies (optionally by prefix)
  help / quit
"""

from __future__ import annotations

import os
import random
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blacklab_spark.corpus import Corpus
from blacklab_spark.cql.luceneql import parse_luceneql
from blacklab_spark.search.results import (
    autocomplete, parse_criteria, term_frequencies,
)
from blacklab_spark.session import get_spark

# insert a (?-i) sensitivity flag after the opening quote of every
# quoted literal that doesn't already carry one — the REPL-level
# default-sensitivity toggle (reference QueryTool.java:753-776 keeps
# the same session-wide default and builds queries with it)
_QUOTED = re.compile(r'"((?:[^"\\]|\\.)*)"')

_TAGS = re.compile(r"<[^>]+>")


def _apply_sensitive(cql: str) -> str:
    return _QUOTED.sub(
        lambda m: m.group(0)
        if m.group(1).startswith("(?")
        else f'"(?-i){m.group(1)}"',
        cql,
    )


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(1)
    spark = get_spark("query-tool", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    corpus = Corpus.open(spark, sys.argv[1])
    print(f"corpus: {corpus.meta['n_docs']} docs, {corpus.meta['n_terms']} terms")
    hits = None
    first = 0
    page = 10
    ctx = None  # None = corpus default context size
    snippet_chars = 200
    filter_sql = None
    sensitive = False
    wait_total = True
    doctitle = "conv_id"
    stripxml = False
    concfi = True
    showconc = True
    verbose = False
    # deterministic @@wordlist choice (the reference draws with
    # Math.random(), QueryTool.java:1069 — seeded here so REPL scripts
    # replay identically)
    wl_rng = random.Random(42)
    wordlists: dict[str, list[str]] = {}

    def show():
        if hits is None:
            print("no current hits")
            return
        if not showconc:
            n = hits.window(first, page).df.count()
            print(f"[showing {n} hit positions, showconc off]")
            return
        win = hits.window(first, page)
        if concfi:
            for r in win.kwic(size=ctx).collect():
                title = r[doctitle] if doctitle in r.__fields__ else r["conv_id"]
                print(
                    f"[{title}:{r['turn_idx']} @{r['start']}] "
                    f"{r['left']} 「{r['match']}」 {r['right']}"
                )
        else:
            # original-content concordances (reference concfi no ->
            # ConcordanceType.CONTENT_STORE)
            for r in corpus.snippets(win.df, context_chars=snippet_chars // 2).collect():
                print(f"[doc {r['doc_id']} @{r['start']}] {r['snippet']}")

    def handle(line: str) -> None:
        nonlocal hits, first, page, ctx, snippet_chars, filter_sql
        nonlocal sensitive, wait_total, doctitle, stripxml, concfi
        nonlocal showconc, verbose
        cmd, _, rest = line.partition(" ")
        if cmd == "help":
            print(__doc__)
        elif cmd == "repeat":
            n_str, _, sub = rest.partition(" ")
            for _ in range(int(n_str)):
                handle(sub)
        elif cmd == "topk":
            for r in corpus.topk(rest, k=page, filter_expr=filter_sql).collect():
                print(f"{r['score']:.4f}  [{r['conv_id']}:{r['turn_idx']}] {r['text'][:90]}")
        elif cmd == "next":
            first += page
            show()
        elif cmd == "prev":
            first = max(0, first - page)
            show()
        elif cmd == "page":
            first = max(0, (int(rest) - 1) * page)
            show()
        elif cmd == "pagesize":
            page = max(1, int(rest))
            show()
        elif cmd == "context":
            ctx = max(0, int(rest))
            show()
        elif cmd == "snippetsize":
            snippet_chars = max(1, int(rest))
        elif cmd == "count":
            if hits is None:
                print("-")
            elif wait_total:
                print(f"{hits.count()} hits in {hits.doc_count()} docs")
            else:
                rc = hits.count_running()
                print(f"counting... {rc.running} so far")
                print(f"total: {rc.total()}")
        elif cmd == "total":
            wait_total = rest != "off"
        elif cmd == "sensitive":
            sensitive = rest in ("on", "yes", "true", "case")
            print(f"default sensitivity: {'sensitive' if sensitive else 'insensitive'}")
        elif cmd == "filter":
            if rest:
                filter_sql = parse_luceneql(rest)
                print(f"filter: {filter_sql}")
            else:
                filter_sql = None
                print("filter cleared")
        elif cmd == "doc":
            text = corpus.doc_contents(int(rest))
            if text is None:
                print("no such doc")
            else:
                info = corpus.doc_info(int(rest)) or {}
                print(f"--- {info.get(doctitle, rest)} ---")
                print(_TAGS.sub("", text) if stripxml else text)
        elif cmd == "doctitle":
            doctitle = rest or "conv_id"
        elif cmd == "stripxml":
            stripxml = rest in ("on", "yes", "true")
        elif cmd == "concfi":
            concfi = rest in ("on", "yes", "true")
            show()
        elif cmd == "showconc":
            showconc = rest in ("on", "yes", "true")
            show()
        elif cmd == "verbose":
            verbose = rest in ("on", "yes", "true")
        elif cmd == "struct" or cmd == "structure":
            f = corpus.fields()
            print(f"index: {corpus.index_dir}")
            print(f"docs: {f['n_docs']}  tokens: {f['total_tokens']}  "
                  f"terms: {f['n_terms']}")
            af = f["annotated_field"]
            print(f"annotated field '{af['name']}': annotations "
                  f"{af['annotations']} (main: {af['main_annotation']}; "
                  f"sensitivities: {af['sensitivities']})")
            print(f"metadata fields: {f['metadata_fields']}")
        elif cmd == "props":
            print(corpus.fields()["annotated_field"]["annotations"])
        elif cmd == "wordlist":
            parts = rest.split()
            if not parts:
                print("Available word lists:")
                for nm in wordlists:
                    print(f" {nm}")
            elif os.path.exists(parts[0]):
                nm = parts[1] if len(parts) > 1 else "word"
                with open(parts[0]) as fh:
                    wordlists[nm] = [w for w in fh.read().split() if w]
                print(f"Loaded word list '{nm}' ({len(wordlists[nm])} words)")
            elif parts[0] in wordlists:
                for w in wordlists[parts[0]]:
                    print(f" {w}")
            else:
                print(f"File {parts[0]} not found.")
        elif cmd == "snippet":
            if hits is None:
                print("no current hits")
                return
            one = hits.window(first + int(rest or 0), 1)
            for r in corpus.snippets(one.df, context_chars=snippet_chars).collect():
                print(r["snippet"])
        elif cmd == "colloc":
            if hits is not None:
                hits.collocations().show(page, truncate=False)
        elif cmd == "sample":
            if hits is not None:
                hits = (
                    hits.sample(fraction=float(rest[:-1]) / 100.0)
                    if rest.endswith("%")
                    else hits.sample(n=int(rest))
                )
                first = 0
                show()
        elif cmd == "sort":
            if hits:
                hits = hits.sort_by(parse_criteria(rest or "hit"))
                first = 0
                show()
        elif cmd == "group":
            if hits:
                # a bare metadata column name groups by that field
                crit = rest or "hit"
                if crit != "hit" and ":" not in crit:
                    crit = f"field:{crit}"
                hits.group_by(parse_criteria(crit)).show(page, truncate=False)
        elif cmd == "explain":
            print(corpus.explain(rest))
        elif cmd == "freq":
            if rest:
                autocomplete(corpus, rest).show(page, truncate=False)
            else:
                term_frequencies(corpus, filter_expr=filter_sql).show(
                    page, truncate=False
                )
        else:
            patt = line
            # @@listname -> one word from the named list
            if "@@" in patt:
                def sub(m):
                    lst = wordlists.get(m.group(1))
                    if not lst:
                        raise ValueError(f"Word list '{m.group(1)}' not found!")
                    return wl_rng.choice(lst)

                patt = re.sub(r"@@([A-Za-z0-9_\-]+)", sub, patt)
                print(f"query: {patt}")
            if sensitive:
                patt = _apply_sensitive(patt)
            hits = corpus.find(patt)
            if filter_sql:
                hits = hits.filter_docs(filter_sql)
            first = 0
            show()

    while True:
        try:
            line = input("bl> ").strip()
        except (EOFError, KeyboardInterrupt):
            break
        if not line:
            continue
        if line in ("quit", "exit"):
            break
        try:
            t0 = time.time()
            handle(line)
            if verbose:
                print(f"({time.time() - t0:.3f}s)")
        except Exception as e:  # REPL: show, don't die
            print(f"error: {e}")


if __name__ == "__main__":
    main()
