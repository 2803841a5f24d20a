"""Pure-Python reference-semantics oracle for the annotation stage.

An INDEPENDENT implementation of the reference's 4-pass scoring equations
(/root/reference/annotation/annot_scripts/annotation_models.py,
 /root/reference/annotation/table_annotation.py:51-112) over plain dicts and
loops — no Spark, no shared dataflow code with the engine. Shared with the
engine are only the leaf scalar functions (fuzzy ratios, date/quantity
helpers), which are unit-tested separately.

Inputs are per-table: the body grid, column classes, per-cell candidates with
lookup sims (the lookup stage is validated separately against its own
goldens), and the raw fixture KG rows.

Used by tests/test_oracle_parity.py to measure CEA/CTA/CPA P/R of the Spark
engine against reference semantics (gate: exact equality), and by
tests/test_annotation_kernel.py as the spec of the annotation kernel.
"""

from __future__ import annotations

import math
from collections import defaultdict

from table_annotation_spark.functions.similarity import textual_similarity
from table_annotation_spark.functions import typing_fns as tf

SEMANTIC_W = 1.0
LITERAL_W = 0.3
LEVEL_W = {1: 1.0, 2: 0.7, 3: 0.2}
TRANSITIVE = {"P131", "P279", "P361", "P171", "P403", "P706", "P927", "P1433"}
TYPE_PIDS = {"P31", "P106", "P39", "P105"}
LIT_CLASSES = {"date", "numeral_unit", "numeral", "textual"}


# ------------------------------------------------------------------ KG views
class KG:
    def __init__(self, edge_rows: list[dict]):
        self.ent_nbrs: dict[str, dict[str, list[str]]] = defaultdict(dict)
        self.lit_nbrs: dict[str, dict[str, list[tuple[str, str]]]] = defaultdict(dict)
        self.pids: dict[str, set[str]] = defaultdict(set)
        self.degree: dict[str, int] = defaultdict(int)
        self.p279: dict[str, dict[str, str]] = defaultdict(dict)
        self.types1: dict[str, dict[str, tuple[str, str]]] = defaultdict(dict)
        self.unit_symbol: dict[str, str] = {}
        for e in edge_rows:
            pid = ("(-)" if e["reverse"] else "") + e["pred"]
            subj, obj = e["subj"], e["obj"]
            self.degree[subj] += 1
            self.pids[subj].add(pid)
            if e["obj_kind"] == "entity":
                self.ent_nbrs[subj].setdefault(obj, []).append(pid)
                if not e["reverse"]:
                    if e["pred"] in TYPE_PIDS:
                        self.types1[subj][obj] = (e["pred"], e["obj_type"])
                    if e["pred"] == "P279":
                        self.p279[subj][obj] = e["obj_type"]
            else:
                self.lit_nbrs[subj].setdefault(obj, []).append(
                    (pid, e["obj_type"])
                )
                if e["pred"] == "P5061" and not e["reverse"]:
                    self.unit_symbol.setdefault(subj, obj)

    def hierarchical_types(self, ent: str) -> dict[int, dict[str, int]]:
        """{level: {type: rank}} — knowledge_bases.py:136-180 semantics:
        level 1 = non-P31 type-pred objects if any, else P31."""
        t1 = self.types1.get(ent, {})
        others = {t: r for t, (p, r) in t1.items() if p != "P31"}
        lvl1 = others if others else {t: r for t, (p, r) in t1.items()}
        out = {1: {t: tf.map_rank(r) for t, r in lvl1.items()}}
        prev = set(lvl1)
        for lv in (2, 3):
            nxt: dict[str, int] = {}
            for t in prev:
                for parent, r in self.p279.get(t, {}).items():
                    nxt[parent] = max(nxt.get(parent, 0), tf.map_rank(r))
            out[lv] = nxt
            prev = set(nxt)
        return out

    def supertypes(self, t: str) -> set[str]:
        return set(self.p279.get(t, {}))

    def type_graph(self, t: str) -> set[str]:
        """Entity neighbors of a type minus the (-)P31 instance fan-in."""
        out = set()
        for obj, pids in self.ent_nbrs.get(t, {}).items():
            if any(p != "(-)P31" for p in pids):
                out.add(obj)
        return out


# ------------------------------------------------------------------ oracle
class TableOracle:
    """One table's 4-pass annotation, reference semantics."""

    def __init__(
        self,
        grid: list[list[str]],                       # body rows (header dropped)
        col_classes: dict[int, str],
        candidates: dict[tuple[int, int], list[tuple[str, float]]],
        kg: KG,
        multihop: bool = True,
    ):
        self.grid = grid
        self.kg = kg
        self.multihop = multihop
        self.n_rows = len(grid)
        self.n_cols = max((len(r) for r in grid), default=0)
        self.entity_cols = sorted(
            c for c, cls in col_classes.items() if cls == "entity"
        )
        self.literal_cols = sorted(
            c for c, cls in col_classes.items() if cls in LIT_CLASSES
        )
        self.col_classes = col_classes
        self.lookup = candidates  # {(r,c): [(ent, sim)]}
        self.sim = {
            (r, c, ent): s for (r, c), lst in candidates.items() for ent, s in lst
        }
        # context entries: {(r,c,ent): {ctx_col: entry}}
        self.ctx: dict[tuple[int, int, str], dict[int, dict]] = defaultdict(dict)
        self.cached_rel: dict[tuple[str, str], dict[str, float]] = {}
        self.lit_cpa: dict[tuple[str, str], set[str]] = defaultdict(set)
        self.unrelated_pairs: set[tuple[int, int]] = set()
        self.cea: dict[tuple[int, int], list[dict]] = {}
        self.cta: dict[int, list[dict]] = {}
        self.cpa: dict[tuple[int, int], list[dict]] = {}
        self.scores: dict[tuple[int, int, str], float] = {}
        self.contextless: dict[tuple[int, int], float] = {}
        self.potential: dict[tuple[int, int, str], list[dict]] = {}

    # ------------------------------------------------------ pair relations
    def _pair_relations(self, h: str, t: str) -> dict[str, float]:
        key = (h, t)
        if key in self.cached_rel:
            return self.cached_rel[key]
        rels: dict[str, float] = {}
        if t in self.kg.ent_nbrs.get(h, {}):
            for pid in self.kg.ent_nbrs[h][t]:
                rels[pid] = 1.0
        elif self.multihop:
            gh, gt = self.kg.ent_nbrs.get(h, {}), self.kg.ent_nbrs.get(t, {})
            for node in gh.keys() & gt.keys():
                deg = self.kg.degree.get(node, 0)
                pop = 1.0 / (2 + math.log10(2 + deg)) if deg else 0.0
                if pop <= 0:
                    continue
                for rh in gh[node]:
                    for rt in gt[node]:
                        rtv = rt[3:] if rt.startswith("(-)") else "(-)" + rt
                        if rh == rtv and rh.replace("(-)", "") in TRANSITIVE:
                            rid, prox = rh, 1.0
                        else:
                            rid = rh + "::" + rtv
                            mixed = rh.startswith("(-)") != rtv.startswith("(-)")
                            prox = pop / 1.75 if mixed else pop
                        rels[rid] = min(rels.get(rid, prox), prox)
        return rels

    # ------------------------------------------------------ context scoring
    def context_scoring(self) -> None:
        for r in range(self.n_rows):
            row = self.grid[r]
            for i in range(len(self.entity_cols) - 1):
                hc = self.entity_cols[i]
                h_cands = self.lookup.get((r, hc), [])
                for j in range(i + 1, len(self.entity_cols)):
                    tc = self.entity_cols[j]
                    t_cands = self.lookup.get((r, tc), [])
                    if not h_cands:
                        for t_ent, _ in t_cands:
                            self.ctx[(r, tc, t_ent)].setdefault(
                                hc, {"w": SEMANTIC_W, "score": 0.1, "rels": set()}
                            )
                        continue
                    for h_ent, h_sim in h_cands:
                        self.ctx[(r, hc, h_ent)].setdefault(
                            tc, {"w": SEMANTIC_W, "score": 0.1, "rels": set()}
                        )
                        for t_ent, t_sim in t_cands:
                            self.ctx[(r, tc, t_ent)].setdefault(
                                hc, {"w": SEMANTIC_W, "score": 0.1, "rels": set()}
                            )
                            if h_ent == t_ent:
                                continue
                            rels = self._pair_relations(h_ent, t_ent)
                            if not rels:
                                continue
                            best = max(rels.values())
                            t_len = len(row[tc]) if tc < len(row) else 0
                            h_len = len(row[hc]) if hc < len(row) else 0
                            thr_t = 0.7 if t_len > 5 else 0.9
                            thr_h = 0.7 if h_len > 5 else 0.9
                            h_score = max(0.1, best * t_sim) if t_sim >= thr_t else 0.1
                            t_score = max(0.1, best * h_sim) if h_sim >= thr_h else 0.1
                            e_h = self.ctx[(r, hc, h_ent)][tc]
                            e_t = self.ctx[(r, tc, t_ent)][hc]
                            e_h["score"] = max(e_h["score"], h_score)
                            e_t["score"] = max(e_t["score"], t_score)
                            if h_score > 0.1 or t_score > 0.1:
                                self.cached_rel.setdefault((h_ent, t_ent), rels)
                                e_h["rels"].update(rels)
                                e_t["rels"].update(rels)
            # literal context
            for ec in self.entity_cols:
                for ent, _sim in self.lookup.get((r, ec), []):
                    for lc in self.literal_cols:
                        if lc < ec:
                            continue
                        entry = self.ctx[(r, ec, ent)].setdefault(
                            lc, {"w": LITERAL_W, "score": 0.1, "rels": set()}
                        )
                        mention = row[lc] if lc < len(row) else ""
                        cls = self.col_classes[lc]
                        for obj, plist in self.kg.lit_nbrs.get(ent, {}).items():
                            for pid, littype in plist:
                                score = self._match_literal(obj, littype, mention, cls)
                                if score > 0.0:
                                    entry["score"] = max(entry["score"], score)
                                    entry["rels"].add(pid)
                                    self.lit_cpa[(ent, mention)].add(pid)

    def _match_literal(self, obj: str, littype: str, cell: str, cls: str) -> float:
        kind = littype.split("-")[0]
        if kind == "DateTime" and cls == "date":
            if littype.split("-")[1] != "Period":
                if tf.date_similarity(obj, cell):
                    return 1.0
                y1, y2 = tf.get_year(obj), tf.get_year(cell)
                return 0.8 if (y1 is not None and y1 == y2) else 0.0
            parts = obj.split(":")
            cp = cell.strip("[]()").replace("–", "-").replace("—", "-").split("-")
            if len(parts) == 2 and len(cp) == 2:
                if tf.date_similarity(parts[0], cp[0]) and tf.date_similarity(parts[1], cp[1]):
                    return 1.0
            return 0.0
        if kind == "String" and cls == "textual":
            s = textual_similarity(obj, cell)
            return s if s > 0.9 else 0.0
        if kind == "Quantity" and cls == "numeral_unit":
            unit_q = littype.split("-", 1)[1]
            if unit_q == "1":
                return 0.0
            sym = self.kg.unit_symbol.get(unit_q)
            if not sym:
                return 0.0
            so = tf.standardize_to_base_unit(f"{obj} {sym}")
            sc = tf.standardize_to_base_unit(cell)
            if not so or not sc or so[1] != sc[1]:
                return 0.0
            s = tf.dimensionless_quantity_similarity(so[0], sc[0])
            thr = 0.75 if so[1] == "MONEY" else 0.95
            return s if s > thr else 0.0
        return 0.0

    # ------------------------------------------------------ entity scoring
    def score_pass1(self) -> None:
        for (r, c), lst in self.lookup.items():
            for ent, sim in lst:
                self.scores[(r, c, ent)] = sim if self.n_cols <= 1 else 0.1 * sim

    def _orient(self, cand_col: int, ctx_col: int) -> tuple[int, int]:
        if ctx_col < cand_col and ctx_col in self.entity_cols:
            return (ctx_col, cand_col)
        return (cand_col, ctx_col)

    def update_weights(self) -> None:
        """C10 soft re-weighting against the CURRENT cpa."""
        min_e = min(self.entity_cols) if self.entity_cols else 0
        for (r, c, ent), entries in self.ctx.items():
            for o, entry in entries.items():
                pair = self._orient(c, o)
                base = SEMANTIC_W if o in self.entity_cols else LITERAL_W
                floor = 0.05 if o in self.entity_cols else 0.01
                if pair in self.cpa and self.cpa[pair]:
                    top = self.cpa[pair][0]
                    df = 1.0 / (1 + 4 * min(abs(o - min_e), abs(c - min_e)))
                    entry["w"] = max(floor, base * top["coverage"] * top["prox"] * df)
                else:
                    entry["w"] = floor

    def restrict_literal_context(self) -> None:
        """C10 onlyLiteralContext: ONLY populates unrelated pairs."""
        for lc in self.literal_cols:
            best_cov, best_col = 0.0, None
            for ec in self.entity_cols:
                self.unrelated_pairs.add((ec, lc))
                pair = (ec, lc)
                if pair in self.cpa and self.cpa[pair]:
                    cov = self.cpa[pair][0]["coverage"]
                    if cov > best_cov:
                        best_cov, best_col = cov, ec
            if best_col is not None:
                self.unrelated_pairs.discard((best_col, lc))

    def score_soft(self, last_step: bool = False) -> None:
        for (r, c), lst in self.lookup.items():
            for ent, sim in lst:
                key = (r, c, ent)
                if self.n_cols <= 1:
                    self.scores[key] = sim
                    if last_step:
                        self.contextless.setdefault((r, c), 0.1)
                    continue
                entries = self.ctx.get(key, {})
                num = den = max_w = 0.0
                if entries:
                    for o, entry in entries.items():
                        pair = self._orient(c, o)
                        if pair in self.unrelated_pairs or pair not in self.cpa:
                            continue
                        scale = 0.0
                        for a_cpa in self.cpa[pair]:
                            if a_cpa["rel"] in entry["rels"]:
                                scale = a_cpa["coverage"] * a_cpa["prox"]
                                break
                        scaled = max(0.1, scale * entry["score"])
                        num += entry["w"] * scaled
                        if last_step:
                            cell_key = (r, c)
                            self.contextless[cell_key] = max(
                                self.contextless.get(cell_key, 0.0), scaled
                            )
                            for a_cpa in self.cpa[pair]:
                                rel = a_cpa["rel"]
                                if "::" in rel:
                                    continue
                                if o < c and o in self.entity_cols:
                                    need = rel[3:] if rel.startswith("(-)") else "(-)" + rel
                                else:
                                    need = rel
                                if need in self.kg.pids.get(ent, set()):
                                    self.potential.setdefault(key, []).append(
                                        {"cpa_coeff": a_cpa["coverage"]}
                                    )
                        max_w = max(max_w, entry["w"])
                        den += SEMANTIC_W if o in self.entity_cols else LITERAL_W
                    ctx_score = num / den if den else 0.01
                else:
                    ctx_score = 0.01
                    if last_step:
                        self.contextless.setdefault((r, c), 0.1)
                if max_w > 0.1:
                    logistic = 1.0 / (1 + math.exp(-(sim**2.5 / 0.5 - 1.0) / 0.2))
                    self.scores[key] = ctx_score * logistic
                else:
                    self.scores[key] = 0.1 * sim

    # ------------------------------------------------------ CEA
    def cea_task(self, only_one: bool) -> None:
        self.cea = {}
        cta_by_col: dict[int, list[dict]] = self.cta or {}
        for (r, c), lst in self.lookup.items():
            cands = [
                {"ent": ent, "score": self.scores.get((r, c, ent), 0.0), "sim": sim}
                for ent, sim in lst
            ]
            if not cands:
                continue
            ctas = cta_by_col.get(c, [])
            if ctas:
                weights = [a["coverage"] for a in ctas]
                d_scores: dict[str, float] = {cd["ent"]: 0.0 for cd in cands}
                for a_cta in ctas:
                    ct, cscore = a_cta["type"], a_cta["score"]
                    tneigh = self.kg.type_graph(ct)
                    for cd in cands:
                        ht = self.kg.hierarchical_types(cd["ent"])
                        if ct in ht[1]:
                            d = LEVEL_W[1] * cscore
                        elif ct in ht[2] or (set(ht[1]) & tneigh):
                            d = LEVEL_W[2] * cscore
                        elif ct in ht[3] or (set(ht[2]) & tneigh):
                            d = LEVEL_W[3] * cscore
                        else:
                            d = 0.0
                        d_scores[cd["ent"]] = max(d_scores[cd["ent"]], d)
                ctxless = bool(self.contextless) and self.contextless.get((r, c), 0.1) == 0.1
                if ctxless:
                    coeff = sum(weights) / len(weights)
                    for cd in cands:
                        pot = self.potential.get((r, c, cd["ent"]))
                        if pot:
                            cpa_coeff = max(p["cpa_coeff"] for p in pot)
                            cd["score"] = min(1.0, cd["score"] * (1 + cpa_coeff))
                else:
                    coeff = sum(weights) / len(weights) / 2
                for cd in cands:
                    cd["score"] = (cd["score"] + coeff * d_scores[cd["ent"]]) / (1 + coeff)
            cands.sort(
                key=lambda cd: (
                    cd["score"],
                    len(self.potential.get((r, c, cd["ent"]), [])),
                    cd["sim"],
                ),
                reverse=True,
            )
            if only_one:
                top = cands[0]["score"]
                self.cea[(r, c)] = [cd for cd in cands if cd["score"] == top]
            else:
                self.cea[(r, c)] = cands

    # ------------------------------------------------------ CTA
    def cta_task(self, only_one: bool) -> None:
        self.cta = {}
        for c in self.entity_cols:
            agg: dict[str, dict] = {}
            for r in range(self.n_rows):
                row_types: dict[str, dict] = {}
                for cd in self.cea.get((r, c), []):
                    ht = self.kg.hierarchical_types(cd["ent"])
                    for lv in (1, 2, 3):
                        for t, rank in ht[lv].items():
                            cur = row_types.setdefault(t, {"score": 0.0, "rank": 0})
                            cur["score"] = max(cur["score"], LEVEL_W[lv] * cd["score"])
                            cur["rank"] = max(cur["rank"], rank)
                for t, info in row_types.items():
                    a = agg.setdefault(t, {"count": 0, "total": 0.0, "ranks": 0})
                    a["count"] += 1
                    a["total"] += info["score"]
                    a["ranks"] += info["rank"]
            if not agg:
                continue
            ranked = sorted(
                agg.items(),
                key=lambda kv: (kv[1]["count"] * kv[1]["total"], kv[1]["ranks"]),
                reverse=True,
            )
            top = ranked[0][1]
            kept = []
            if only_one:
                sups: set[str] = set()
                for t, a in ranked:
                    if a["count"] * a["total"] == top["count"] * top["total"]:
                        kept.append((t, a))
                        sups |= self.kg.supertypes(t)
                for t, a in ranked:
                    if t in sups and t not in [k for k, _ in kept]:
                        kept.append((t, a))
            else:
                kept = [(t, a) for t, a in ranked if a["count"] >= top["count"]]
            self.cta[c] = [
                {
                    "type": t,
                    "score": a["total"] / self.n_rows,
                    "coverage": a["count"] / self.n_rows,
                }
                for t, a in kept
            ]

    # ------------------------------------------------------ CPA
    def cpa_task(self, only_one: bool, use_unrelated: bool = False) -> None:
        self.cpa = {}
        pairs = [
            (h, t)
            for i, h in enumerate(self.entity_cols)
            for t in self.entity_cols[i + 1:]
        ] + [
            (h, t)
            for h in self.entity_cols
            for t in self.literal_cols
            if t > h
        ]
        for pair in pairs:
            if use_unrelated and pair in self.unrelated_pairs:
                continue
            hc, tc = pair
            agg: dict[str, dict] = {}
            for r in range(self.n_rows):
                heads = self.cea.get((r, hc), [])
                if tc in self.entity_cols:
                    tails = [
                        (cd["ent"], cd["score"]) for cd in self.cea.get((r, tc), [])
                    ]
                else:
                    mention = self.grid[r][tc] if tc < len(self.grid[r]) else ""
                    tails = [(mention, 0.0)]
                row_rels: dict[str, dict] = {}
                for hcd in heads:
                    for t_id, t_conf in tails:
                        if tc in self.entity_cols:
                            rels = self.cached_rel.get((hcd["ent"], t_id), {})
                        else:
                            rels = {
                                p: 1.0
                                for p in self.lit_cpa.get((hcd["ent"], t_id), set())
                            }
                        for rel, prox in rels.items():
                            sc = prox * max(hcd["score"], t_conf)
                            cur = row_rels.setdefault(
                                rel, {"score": sc, "prox": prox}
                            )
                            cur["score"] = max(cur["score"], sc)
                            cur["prox"] = min(cur["prox"], prox)
                for rel, info in row_rels.items():
                    a = agg.setdefault(rel, {"count": 0, "total": 0.0, "prox": info["prox"]})
                    a["count"] += 1
                    a["total"] += info["score"]
                    a["prox"] = min(a["prox"], info["prox"])
            if not agg:
                continue
            ranked = sorted(
                agg.items(),
                key=lambda kv: (
                    kv[1]["count"] * kv[1]["total"],
                    kv[1]["count"],
                    kv[1]["prox"],
                    "::" not in kv[0],
                    "(-)" not in kv[0],
                ),
                reverse=True,
            )
            top = ranked[0][1]
            if only_one:
                kept = [
                    (rel, a) for rel, a in ranked
                    if a["count"] * a["total"] >= top["count"] * top["total"]
                ]
            else:
                kept = [(rel, a) for rel, a in ranked if a["count"] >= top["count"]]
            self.cpa[pair] = [
                {
                    "rel": rel,
                    "score": a["total"] / self.n_rows,
                    "coverage": a["count"] / self.n_rows,
                    "prox": a["prox"],
                }
                for rel, a in kept
            ]

    # ------------------------------------------------------ orchestration
    def run(self) -> None:
        """table_annotation.py:51-112 — the exact pass order."""
        self.context_scoring()
        self.score_pass1()
        self.cea_task(only_one=False)
        self.cpa_task(only_one=False)
        self.update_weights()          # weights from CPA¹ — kept for pass 4 too
        self.score_soft()
        self.cea_task(only_one=False)
        self.cta_task(only_one=False)
        self.cea_task(only_one=True)   # CTA² boost active
        self.cta_task(only_one=True)
        self.cpa_task(only_one=False)
        self.restrict_literal_context()
        self.score_soft(last_step=True)
        self.cea_task(only_one=True)   # CTA³ boost + contextless/potential
        self.cta_task(only_one=True)
        self.cpa_task(only_one=True, use_unrelated=True)
