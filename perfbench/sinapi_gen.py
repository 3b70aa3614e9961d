"""Seeded generator of SINAPI-shaped monthly workbooks, and the answers they imply.

One `World` is fixed by (seed, scale): the insumo (input item) and composition
(bill of items) catalogs, the composition trees, base prices and the maintenance
events. `write_month` writes month m as the two workbooks SINAPI publishes:

  SINAPI_Referencia_<yyyy>_<mm>.xlsx   ISD/ICD/ISE price sheets, CSD/CCD/CSE cost
                                       sheets (two-row header) and Analitico
  SINAPI_Manutencoes_<yyyy>_<mm>.xlsx  the cumulative maintenance log

Edge cases carried on purpose: child codes missing from both catalogs (they
trigger placeholder rows), duplicate (parent, item, tipo) rows whose first
occurrence wins, blank UF cells, comma decimals next to numeric cells,
formula-style cost codes `...,(12345)`, garbage code rows, invalid maintenance
rows, and accented DESATIVAÇÃO events that recur across months.

With `quoted=True` the workbooks also carry cells holding `"`: a quarter of the
cost codes become hyperlink formulas with quoted arguments, as real hyperlink
formulas are written, and some descriptions get inch marks (`DN 1/2"`). The
program's load mishandles such cells today (see perfbench/README.md), so the
benchmark's workloads leave them out and `run.py --quoted-cells` shows the defect.

Every answer the benchmark checks is computed here, from the generator's own
state, never from the engine. Composition trees are at most MAX_DEPTH edges deep
(root -> 3 levels of sub-compositions -> insumo), with sub-composition
coefficients of one decimal and insumo coefficients of three, so every path
product is exact at the warehouse's DECIMAL(18,6) scale.
"""

import functools
import os
import random
from decimal import Decimal, ROUND_HALF_UP

from xlsx import Formula, Num, write_xlsx

UFS = ["AC", "AL", "AM", "AP", "BA", "CE", "DF", "ES", "GO", "MA", "MG", "MS", "MT", "PA",
       "PB", "PE", "PI", "PR", "RJ", "RN", "RO", "RR", "RS", "SC", "SE", "SP", "TO"]
# (price sheet, cost sheet, regime) as the engine's SHEET_MAP routes them
REGIMES = [("ISD", "CSD", "NAO_DESONERADO"), ("ICD", "CCD", "DESONERADO"),
           ("ISE", "CSE", "SEM_ENCARGOS")]
MAX_DEPTH = 4
FIRST_YEAR, FIRST_MONTH = 2025, 1
DEACTIVATION = "DESATIVAÇÃO"
EVENT_KINDS = ["ALTERAÇÃO DE PREÇO", "ALTERAÇÃO DE DESCRIÇÃO", "INCLUSÃO",
               "ALTERAÇÃO DE COEFICIENTE", DEACTIVATION, "REATIVAÇÃO"]
WORDS = ["CIMENTO", "AREIA MÉDIA", "BRITA", "ARGAMASSA", "CONCRETO", "AÇO CA-50", "TUBO PVC",
         "ELETRODUTO", "CABO DE COBRE", "TIJOLO CERÂMICO", "TELHA", "MADEIRA", "PREGO", "CAL",
         "PEDREIRO", "SERVENTE", "ELETRICISTA", "ENCANADOR", "BETONEIRA", "ESCAVAÇÃO",
         "ALVENARIA DE VEDAÇÃO", "CHAPISCO", "REBOCO", "PISO CERÂMICO", "FÔRMA", "IMPERMEABILIZAÇÃO"]
QUALIFIERS = ["TIPO A", "TIPO B", "CP-II", "Ø 25 MM", "E = 10 CM", "1:3", "MÉDIO", "LEVE",
              "PESADO", "APLICAÇÃO MANUAL", "INCLUSO TRANSPORTE", "COM ADITIVO"]
INCH_QUALIFIERS = ['DN 1/2"', 'DN 3/4"']
UNITS = ["UN", "M", "M2", "M3", "KG", "H", "L", "T"]
CLASSES = ["MATERIAL", "MÃO DE OBRA", "EQUIPAMENTO", "SERVIÇOS"]
Q6 = Decimal("0.000001")


def month_of(m):
    """(year, month) of month index m (0 = the first generated month)."""
    k = FIRST_MONTH - 1 + m
    return FIRST_YEAR + k // 12, k % 12 + 1


def month_key(m):
    y, mm = month_of(m)
    return f"{y:04d}-{mm:02d}-01"


def comma(d):
    """Decimal -> SINAPI comma-decimal text."""
    return str(d).replace(".", ",")


class World:
    """Catalogs, trees, prices and events for one (seed, scale)."""

    def __init__(self, seed, scale=1.0, quoted=False):
        rng = random.Random(f"sinapi-world-{seed}")
        self.seed, self.quoted = seed, quoted
        n_ins = max(40, int(5000 * scale))
        n_comp = max(60, int(8000 * scale))
        ins_codes = sorted(rng.sample(range(100, 50000), n_ins + max(3, n_ins // 200)))
        rng.shuffle(ins_codes)
        self.missing_ins = sorted(ins_codes[n_ins:])
        self.ins_codes = sorted(ins_codes[:n_ins])
        comp_codes = rng.sample(range(50000, 200000), n_comp + max(2, n_comp // 400))
        self.missing_comp = sorted(comp_codes[n_comp:])
        self.comp_codes = sorted(comp_codes[:n_comp])
        # cost-sheet code cells written as quoted hyperlinks, the rest quote-free
        self.quoted_links = set(random.Random(f"sinapi-links-{seed}").sample(
            self.comp_codes, n_comp // 4)) if quoted else set()
        qualifiers = QUALIFIERS + INCH_QUALIFIERS if quoted else QUALIFIERS

        def desc():
            return f"{rng.choice(WORDS)} {rng.choice(qualifiers)}"
        self.ins_info = {c: (desc(), rng.choice(UNITS), rng.choice(CLASSES))
                         for c in self.ins_codes}
        self.comp_info = {c: (desc(), rng.choice(UNITS)) for c in self.comp_codes}
        # base price in cents, skewed like real catalogs (many cheap items)
        self.base_cents = {c: int(rng.lognormvariate(7.0, 1.6)) + 1 for c in self.ins_codes}
        self.uf_factor = {uf: 0.85 + 0.3 * rng.random() for uf in UFS}

        # level 0 roots ... level 3 compositions whose children are insumos only:
        # a child sub-composition is always one level deeper, so no path is longer
        # than MAX_DEPTH edges and the graph is acyclic
        self.level = {c: rng.choices([0, 1, 2, 3], weights=[10, 20, 30, 40])[0]
                      for c in self.comp_codes}
        by_level = {k: [c for c in self.comp_codes if self.level[c] == k] for k in range(4)}
        self.rows = {}  # composition -> [(tipo, child, coef)] in sheet order, duplicates kept
        for c in self.comp_codes:
            k = self.level[c]
            rows = []
            for _ in range(rng.randint(4, 18)):
                if k < 3 and rng.random() < 0.2 and any(by_level[j] for j in range(k + 1, 4)):
                    j = rng.choice([j for j in range(k + 1, 4) if by_level[j]])
                    rows.append(("COMPOSICAO", rng.choice(by_level[j]),
                                 Decimal(rng.randint(1, 40)) / 10))
                else:
                    rows.append(("INSUMO", rng.choice(self.ins_codes), self._ins_coef(rng)))
            self.rows[c] = rows
        # every missing code is referenced from the structure of every month
        leaves = by_level[3] or self.comp_codes
        for code in self.missing_ins:
            self.rows[rng.choice(leaves)].append(("INSUMO", code, self._ins_coef(rng)))
        uppers = [c for c in self.comp_codes if self.level[c] < 3] or self.comp_codes
        for code in self.missing_comp:
            self.rows[rng.choice(uppers)].append(("COMPOSICAO", code, Decimal("1.0")))
        # duplicate (parent, item, tipo) rows with another coefficient: first wins
        for c in rng.sample(self.comp_codes, max(1, n_comp // 100)):
            tipo, child, coef = self.rows[c][0]
            self.rows[c].append((tipo, child, coef + Decimal("1.0")))

        # maintenance events: (month index, tipo, code, kind); DESATIVAÇÃO recurs
        self.events = []
        per_month = max(10, int(600 * scale))
        recurring = rng.sample(self.ins_codes, max(2, n_ins // 100))
        for m in range(12):
            seen = set()
            for _ in range(per_month):
                if rng.random() < 0.5:
                    tipo, code = "INSUMO", rng.choice(self.ins_codes)
                else:
                    tipo, code = "COMPOSICAO", rng.choice(self.comp_codes)
                kind = rng.choice(EVENT_KINDS)
                if (tipo, code, kind) not in seen:
                    seen.add((tipo, code, kind))
                    self.events.append((m, tipo, code, kind))
            for code in recurring:
                if ("INSUMO", code, DEACTIVATION) not in seen:
                    self.events.append((m, "INSUMO", code, DEACTIVATION))

    @staticmethod
    def _ins_coef(rng):
        r = rng.random()
        hi = 1000 if r < 0.5 else 5000 if r < 0.9 else 20000
        return Decimal(rng.randint(1, hi)) / 1000

    # ---- per-month values -------------------------------------------------

    def month_rng(self, m, what):
        return random.Random(f"sinapi-{self.seed}-{m}-{what}")

    @functools.lru_cache(maxsize=None)
    def structure(self, m):
        """Analitico rows of month m: each month revises ~1% of coefficients."""
        rng = self.month_rng(m, "structure")
        out = {}
        for c in self.comp_codes:
            rows = []
            for tipo, child, coef in self.rows[c]:
                if m > 0 and rng.random() < 0.01:
                    coef = (Decimal(rng.randint(1, 40)) / 10 if tipo == "COMPOSICAO"
                            else self._ins_coef(rng))
                rows.append((tipo, child, coef))
            out[c] = rows
        return out

    @functools.lru_cache(maxsize=None)
    def prices(self, m):
        """{(regime, insumo, uf): Decimal or None} for month m (None = blank cell)."""
        rng = self.month_rng(m, "prices")
        drift = 1.0 + 0.004 * m
        out = {}
        for ri, (_, _, regime) in enumerate(REGIMES):
            rf = (1.0, 0.93, 0.71)[ri]
            for c in self.ins_codes:
                base = self.base_cents[c] * rf * drift
                for uf in UFS:
                    if rng.random() < 0.03:
                        out[(regime, c, uf)] = None
                    else:
                        cents = int(base * self.uf_factor[uf] * (0.97 + 0.06 * rng.random()))
                        out[(regime, c, uf)] = Decimal(max(cents, 1)) / 100
        return out

    @functools.lru_cache(maxsize=None)
    def costs(self, m):
        """{(regime, composition, uf): Decimal or None} for month m."""
        rng = self.month_rng(m, "costs")
        out = {}
        for _, _, regime in REGIMES:
            for c in self.comp_codes:
                base = 2000 + rng.randint(0, 400000)
                for uf in UFS:
                    out[(regime, c, uf)] = (None if rng.random() < 0.03 else
                                            Decimal(int(base * self.uf_factor[uf])) / 100)
        return out

    def events_until(self, m):
        return [e for e in self.events if e[0] <= m]

    # ---- workbooks ---------------------------------------------------------

    def write_month(self, m, out_dir):
        """Write month m's two workbooks into `out_dir`; returns their paths."""
        y, mm = month_of(m)
        rng = self.month_rng(m, "cells")
        os.makedirs(out_dir, exist_ok=True)
        prices, costs, structure = self.prices(m), self.costs(m), self.structure(m)
        sheets = []
        for psheet, _, regime in REGIMES:
            rows = [[f"SINAPI - Preços de Insumos - {regime}"], [],
                    [f"Mês de referência: {mm:02d}/{y}"], ["Encargos sociais: horista"], [],
                    ["Classificação", "Código do Insumo", "Descrição do Insumo", "Unidade",
                     "Origem de Preço"] + UFS]
            for c in self.ins_codes:
                d, u, cls = self.ins_info[c]
                row = [cls, Num(str(c)), d if psheet == "ISD" else f"{d} ({psheet})", u, "CR"]
                for uf in UFS:
                    v = prices[(regime, c, uf)]
                    row.append(None if v is None else
                               Num(str(v)) if rng.random() < 0.3 else comma(v))
                rows.append(row)
            rows.append(["MATERIAL", "abc", "LINHA INVÁLIDA", "UN", "CR"] + ["1,00"] * 3)
            sheets.append((psheet, rows))
        for _, csheet, regime in REGIMES:
            uf_row = [None, None, None]
            head = ["Código da Composição", "Descrição da Composição", "Unidade"]
            for uf in UFS:
                uf_row += [uf, None]
                head += ["Custo (R$)", "%AS"]
            rows = [[f"SINAPI - Custos de Composições - {regime}"], [],
                    [f"Mês de referência: {mm:02d}/{y}"], uf_row, head]
            for c in self.comp_codes:
                d, u = self.comp_info[c]
                link = f"Analítico!A{c % 900 + 11}"
                row = [Formula(f'HIPERLINK("#{link}","{c}"),({c})' if c in self.quoted_links
                               else f"HIPERLINK({link}),({c})"), d, u]
                for uf in UFS:
                    v = costs[(regime, c, uf)]
                    row.append(None if v is None else
                               Num(str(v)) if rng.random() < 0.3 else comma(v))
                    row.append(Num("42.5"))
                rows.append(row)
            rows.append(["TOTAL GERAL", "LINHA DE RODAPÉ", "UN"] + ["1,00", None] * 3)
            sheets.append((csheet, rows))
        rows = [["SINAPI - Composições Analítico"], [], [f"Mês de referência: {mm:02d}/{y}"],
                [], [], [], [], [], [],
                ["Código da Composição", "Tipo Item", "Código do Item", "Coeficiente",
                 "Descrição", "Unidade"]]
        for c in self.comp_codes:
            d, u = self.comp_info[c]
            rows.append([Num(str(c)), "COMPOSICAO_PAI", None, None, d, u])
            for tipo, child, coef in structure[c]:
                if tipo == "INSUMO":
                    cd, cu = (self.ins_info[child][:2] if child in self.ins_info
                              else (f"INSUMO FORA DO CATÁLOGO {child}", "UN"))
                else:
                    cd, cu = self.comp_info.get(child, (f"COMPOSIÇÃO FORA DO CATÁLOGO {child}", "UN"))
                rows.append([Num(str(c)), tipo, Num(str(child)),
                             Num(str(coef)) if rng.random() < 0.2 else comma(coef), cd, cu])
        sheets.append(("Analítico", rows))
        ref = os.path.join(out_dir, f"SINAPI_Referencia_{y:04d}_{mm:02d}.xlsx")
        write_xlsx(ref, sheets)

        rows = [["SINAPI - Relatório de Manutenções"], [], [f"Mês de referência: {mm:02d}/{y}"],
                ["Referência", "Tipo", "Código", "Descrição", "Manutenção"]]
        for em, tipo, code, kind in self.events_until(m):
            ey, emm = month_of(em)
            d = (self.ins_info[code][0] if tipo == "INSUMO" else self.comp_info[code][0])
            rows.append([f"{emm:02d}/{ey}", tipo.capitalize() if rng.random() < 0.1 else tipo,
                         Num(str(code)), d, kind])
        rows.append([f"13/{y}", "INSUMO", Num(str(self.ins_codes[0])), "DATA INVÁLIDA",
                     "ALTERAÇÃO DE PREÇO"])
        rows.append([f"{mm:02d}/{y}", "INSUMO", "abc", "CÓDIGO INVÁLIDO", "ALTERAÇÃO DE PREÇO"])
        if len(rows) > 5:
            rows.append(list(rows[4]))  # an exact duplicate event row
        man = os.path.join(out_dir, f"SINAPI_Manutencoes_{y:04d}_{mm:02d}.xlsx")
        write_xlsx(man, [("Manutenções", rows)])
        return [ref, man]

    # ---- answers -----------------------------------------------------------

    @functools.lru_cache(maxsize=None)
    def edges(self, m):
        """Month m's deduplicated edges {(parent, tipo, child): coef}; first row wins."""
        out = {}
        for c, rows in self.structure(m).items():
            for tipo, child, coef in rows:
                out.setdefault((c, tipo, child), coef)
        return out

    @functools.lru_cache(maxsize=None)
    def children(self, m):
        out = {}
        for (p, tipo, c), coef in self.edges(m).items():
            out.setdefault(p, []).append((tipo, c, coef))
        return out

    def expected_tables(self, m):
        """Warehouse facts after months 0..m were loaded in order."""
        edges = self.edges(m)
        n_prices = n_costs = 0
        for k in range(m + 1):
            n_prices += sum(v is not None for v in self.prices(k).values())
            n_costs += sum(v is not None for v in self.costs(k).values())
        return {
            "rows": {
                "insumos": len(self.ins_codes) + len(self.missing_ins),
                "composicoes": len(self.comp_codes) + len(self.missing_comp),
                "precos_insumos_mensal": n_prices,
                "custos_composicoes_mensal": n_costs,
                "composicao_insumos": sum(t == "INSUMO" for _, t, _ in edges),
                "composicao_subcomposicoes": sum(t == "COMPOSICAO" for _, t, _ in edges),
                "manutencoes_historico": len({(e[1], e[2], e[0], e[3])
                                              for e in self.events_until(m)}),
            },
            "desativados": self.deactivated(m),
        }

    def deactivated(self, m):
        """{tipo: sorted codes whose latest event (date desc, kind desc) deactivates}."""
        latest = {}
        for em, tipo, code, kind in self.events_until(m):
            key = (tipo, code)
            if key not in latest or (em, kind) > latest[key]:
                latest[key] = (em, kind)
        out = {"INSUMO": [], "COMPOSICAO": []}
        for (tipo, code), (_, kind) in latest.items():
            if DEACTIVATION in kind:
                out[tipo].append(code)
        return {k: sorted(v) for k, v in out.items()}

    def history_len(self, m, tipo, code):
        return len({(e[0], e[3]) for e in self.events_until(m) if e[1] == tipo and e[2] == code})

    def tree_weights(self, m, root):
        """{insumo: summed path product} under `root` in month m's structure (the
        engine's TreeExplode; every product is exact at scale 6)."""
        children = self.children(m)
        acc = {}

        def walk(node, w, depth):
            assert depth <= MAX_DEPTH, "composition tree deeper than MAX_DEPTH"
            for tipo, c, coef in children.get(node, ()):
                x = (w * coef).quantize(Q6, ROUND_HALF_UP)
                if tipo == "INSUMO":
                    acc[c] = acc.get(c, Decimal(0)) + x
                else:
                    walk(c, x, depth + 1)
        walk(root, Decimal(1), 1)
        return acc

    def depth(self, m, root):
        """Edges on the longest path from `root` down to an insumo in month m."""
        children = self.children(m)

        def walk(node):
            return max((1 + (walk(c) if t == "COMPOSICAO" else 0)
                        for t, c, _ in children.get(node, ())), default=0)
        return walk(root)

    def rollup(self, m, price_month, root, uf, regime):
        """Queries.custoRolledUp over month m's structure and price_month's prices:
        the sum of round6(weight * price) over priced insumos; None (SQL NULL) when
        no insumo under `root` has a price."""
        prices = self.prices(price_month)
        terms = [(w * prices[(regime, ins, uf)]).quantize(Q6, ROUND_HALF_UP)
                 for ins, w in self.tree_weights(m, root).items()
                 if prices.get((regime, ins, uf)) is not None]
        return sum(terms) if terms else None
