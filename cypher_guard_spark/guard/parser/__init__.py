"""Recursive-descent Cypher parser with behavior parity to the reference.

Module layout mirrors rust/cypher_guard/src/parser/ so SURVEY.md citations
stay navigable: utils / components / patterns / clauses. ``template`` has
no reference counterpart: a recognizer for codegen-rendered MERGE batches
that ``clauses.parse_query`` tries before the full parser.

Convention: every parser is ``p(s, i) -> (next_i, value) | None``; ``None``
means the nom combinator would have returned Err (backtrack). The input
string is never sliced on the hot path (zero-copy parity).
"""
