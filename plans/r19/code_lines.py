"""Count code lines: lines holding a token other than a comment, a
newline or indentation, minus docstring lines.

usage: python3 code_lines.py FILE.py [FILE.py ...]
"""
import ast, io, sys, tokenize
def count(path):
    src = open(path).read()
    tree = ast.parse(src)
    doc = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            b = node.body
            if b and isinstance(b[0], ast.Expr) and isinstance(b[0].value, ast.Constant) and isinstance(b[0].value.value, str):
                doc.update(range(b[0].lineno, b[0].end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER):
            continue
        for l in range(tok.start[0], tok.end[0] + 1):
            lines.add(l)
    return len(lines - doc)
tot = 0
for p in sys.argv[1:]:
    n = count(p); tot += n; print(p, n)
print("total", tot)
