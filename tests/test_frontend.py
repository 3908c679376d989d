"""Frontend unit tests: lexer, parser, normalizer, typechecker (no Spark)."""

import pytest

from conftest import REFERENCE_TESTS, needs_reference
from projet_graphdb_spark.frontend import (
    LexError,
    ParseError,
    TypeCheckError,
    ast as A,
    compile_program,
    normalize,
    parse,
    tokenize,
)
from projet_graphdb_spark.frontend.normalize import (
    Action,
    IActOnNode,
    IActOnRel,
    IReturn,
    ISet,
    IWhere,
)

SCHEMA = """
(:P {nom string, age int})
(:E {nom string, pme bool})
(:P) -[:ami]-> (:P)
(:P) -[:emp]-> (:E)
"""


def test_tokenize_basics():
    toks = tokenize('create (a:P) set a.age = 3 + 4 where a.nom = "x y"')
    kinds = [t.kind for t in toks]
    assert kinds[0] == "CREATE"
    assert "STRING" in kinds and kinds[-1] == "EOF"


def test_tokenize_comment_and_keywords():
    toks = tokenize("match (* a comment (with stars) ** *) (p:P)")
    assert [t.kind for t in toks][:3] == ["MATCH", "LPAREN", "IDENT"]


def test_tokenize_rejects_bad_string():
    with pytest.raises(LexError):
        tokenize('"bad!chars"')


def test_parse_rel_type_decl():
    prog = parse(SCHEMA)
    assert [n.label for n in prog.types.nodes] == ["P", "E"]
    assert (prog.types.rels[1].src, prog.types.rels[1].rel, prog.types.rels[1].tgt) == (
        "P",
        "emp",
        "E",
    )


def test_parse_precedence():
    # 1 + 2 * 3 < 10 and p.age >= 4  →  ((1 + (2*3)) < 10) and (p.age >= 4)
    prog = parse(SCHEMA + "match (p:P) where 1 + 2 * 3 < 10 and p.age >= 4")
    (clause,) = [c for c in prog.query.clauses if isinstance(c, A.WhereClause)]
    e = clause.expr
    assert e.op == A.BinOpKind.AND
    assert e.left.op == A.BinOpKind.LT
    assert e.left.left.op == A.BinOpKind.ADD
    assert e.left.left.right.op == A.BinOpKind.MUL


def test_parse_delete_disambiguation():
    p1 = parse(SCHEMA + "match (a:P), (b:P) delete a, b")
    (d1,) = [c for c in p1.query.clauses if isinstance(c, A.DeleteClause)]
    assert isinstance(d1.pattern, A.DeleteNodes)
    p2 = parse(SCHEMA + "match (a:P), (b:P) delete a -[:ami]-> b")
    (d2,) = [c for c in p2.query.clauses if isinstance(c, A.DeleteClause)]
    assert isinstance(d2.pattern, A.DeleteRels)


def test_parse_error_position():
    with pytest.raises(ParseError):
        parse(SCHEMA + "match (p:P) return")


def test_normalize_chain_interleaving():
    # (a:A)-[:r]->(b:B) lowers to [node a, node b, rel a->b] (instr.ml:56-77)
    prog = parse(SCHEMA + "create (a:P) -[:emp]-> (b:E)")
    instrs = normalize(prog).instructions
    assert isinstance(instrs[0], IActOnNode) and instrs[0].var == "a"
    assert isinstance(instrs[1], IActOnNode) and instrs[1].var == "b"
    assert isinstance(instrs[2], IActOnRel) and (instrs[2].src_var, instrs[2].tgt_var) == (
        "a",
        "b",
    )


def test_normalize_varref_emits_no_node_instr():
    prog = parse(SCHEMA + "create (a:P) create (a) -[:ami]-> (a)")
    instrs = normalize(prog).instructions
    assert len(instrs) == 2  # one node create + one rel create
    assert isinstance(instrs[1], IActOnRel)


@needs_reference
def test_reference_corpus_compiles():
    for name in ["test1", "test2", "test3", "tiny", "entreprise"]:
        src = open(f"{REFERENCE_TESTS}/{name}.q").read()
        np = compile_program(src)
        assert np.instructions


# -- typechecker error classes (typing.ml:57-268) ---------------------------


def tc_err(src: str) -> str:
    with pytest.raises(TypeCheckError) as ei:
        compile_program(src)
    return str(ei.value)


def test_tc_duplicate_node_type():
    assert "Multiple declarations of the same node type" in tc_err(
        "(:P {})\n(:P {})\ncreate (a:P)"
    )


def test_tc_duplicate_rel_type():
    assert "Multiple declarations of the same relation type" in tc_err(
        "(:P {})\n(:P) -[:r]-> (:P)\n(:P) -[:r]-> (:P)\ncreate (a:P)"
    )


def test_tc_undeclared_endpoint():
    assert "undeclared node type" in tc_err("(:P {})\n(:P) -[:r]-> (:Q)\ncreate (a:P)")


def test_tc_undeclared_node_type_in_query():
    assert "is not declared" in tc_err("(:P {})\ncreate (a:Q)")


def test_tc_undeclared_relation():
    assert "is not declared" in tc_err(SCHEMA + "create (a:E), (b:E) create (a) -[:ami]-> (b)")


def test_tc_unbound_var():
    assert "not bound" in tc_err(SCHEMA + "return x")


def test_tc_duplicate_return():
    assert "duplicate" in tc_err(SCHEMA + "match (p:P) return p, p")


def test_tc_where_must_be_bool():
    assert "expected type" in tc_err(SCHEMA + "match (p:P) where p.age + 1")


def test_tc_set_type_mismatch():
    assert "expected type" in tc_err(SCHEMA + 'create (p:P) set p.age = "hello"')


def test_tc_arith_requires_int():
    assert "int types" in tc_err(SCHEMA + 'match (p:P) where p.nom + 1 = 2')


def test_tc_comparison_same_types():
    assert "same types" in tc_err(SCHEMA + 'match (p:P) where p.age = "x"')


def test_tc_rebinding_shadows():
    # rebinding a variable is legal (typing.ml:216) and the new label wins
    np = compile_program(SCHEMA + "create (a:P) match (a:E) where a.pme return a")
    assert np.instructions


def test_tc_undeclared_attribute():
    assert "not declared for node type" in tc_err(SCHEMA + "match (p:P) where p.salary > 3")


def test_show_norm_query_reference_shape():
    """i-mode printer renders the reference's deriving-show constructor
    shapes (interf.ml:50-56)."""
    from projet_graphdb_spark.frontend.show import show_norm_query

    np = compile_program(
        SCHEMA + 'match (p:P) where p.age >= 3 return p'
    )
    out = show_norm_query(np)
    assert '(Instr.IActOnNode (Instr.MatchAct, "p", "P"))' in out
    assert "(Lang.BCompar Lang.BCge)" in out
    assert '(Lang.AttribAcc ("p", "age"))' in out
    assert "(Lang.Const (Lang.IntV 3))" in out
    assert '(Instr.IReturn ["p"])' in out
