#!/usr/bin/env python3
"""Non-comment line counts of src/main, and the public definitions nothing names.

python3 tools/ncloc.py                 per-file counts of src/main, then the total
python3 tools/ncloc.py --unreferenced  public def/val/object members of src/main whose
    name no other word in src/, perfbench/src or tools/ matches (comments and shell
    flags stripped, strings kept); [specs only] marks names only src/test uses.
    Exits 1 when it lists a name that is neither [specs only] nor an object that
    defines main (an entry point the JVM calls by name).
A non-comment line keeps a non-blank character once // and /* */ comments are removed.
"""
import collections, os, re, sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOKEN = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*')
DEF = re.compile(r'\s*((?:(?:private|protected)\S*|override|final|implicit|lazy|case|sealed|abstract)\s+)*'
                 r'(?:def|val|object)\s+(\w+)')
TEMPLATE = re.compile(r'\s*(?:[\w\[\]]+\s+)*(?:object|class|trait)\b')

def strip(src, keep_strings=True):
    out, i = [], 0
    while m := TOKEN.search(src, i):
        out.append(src[i:m.start()]); i, t = m.end(), m.group()
        if t == '/*':  # block comments nest in Scala; keep only their newlines
            depth = 1
            while depth and i < len(src):
                step = src[i:i + 2] if src[i:i + 2] in ('/*', '*/') else src[i]
                depth += (step == '/*') - (step == '*/'); i += len(step)
            out.append('\n' * src.count('\n', m.start(), i))
        elif not t.startswith('//'):
            out.append(t if keep_strings else '""' + '\n' * t.count('\n'))
    return ''.join(out) + src[i:]

def files(*dirs, ext=('.scala', '.java', '.py', '.sh')):
    for d in dirs:
        for r, _, fs in sorted(os.walk(os.path.join(ROOT, d))):
            yield from (os.path.join(r, f) for f in sorted(fs) if f.endswith(ext))

def members(code):
    """(line, name, kind) of public defs whose every enclosing brace is an object/class/trait body."""
    stack, stmt, parens = [], '', 0
    for n, line in enumerate(code.split('\n'), 1):
        m = DEF.match(line)
        if m and all(stack) and not re.search(r'private|protected|override', m.group(1) or ''):
            yield n, m.group(2), m.group(0).split()[-2]
        stmt = stmt if parens or re.match(r'\s*(extends|with)\b', line) else ''
        for c in line + '\n':
            parens += (c == '(') - (c == ')')
            if c == '{': stack.append(bool(TEMPLATE.match(stmt))); stmt = ''
            elif c == '}': stack = stack[:-1]; stmt = ''
            else: stmt = '' if c == ';' else stmt + c

def body(code, line):
    """The text of the braced body that opens on or after `line` (1-based)."""
    start = code.index('{', sum(len(l) + 1 for l in code.split('\n')[:line - 1]))
    depth, i = 0, start
    while True:
        depth += (code[i] == '{') - (code[i] == '}'); i += 1
        if not depth: return code[start:i]

def main():
    srcs = list(files('src/main', ext=('.scala', '.java')))
    if '--unreferenced' not in sys.argv:
        counts = [sum(1 for l in strip(open(p).read()).split('\n') if l.strip()) for p in srcs]
        for p, n in zip(srcs, counts): print(f'{n:6d}  {os.path.relpath(p, ROOT)}')
        return print(f'{sum(counts):6d}  total')
    uses = {True: collections.Counter(), False: collections.Counter()}  # keyed by "is a spec"
    for p in files('src', 'perfbench/src', 'tools'):
        src = open(p, encoding='utf-8').read()
        src = strip(src) if p.endswith(('.scala', '.java')) else re.sub(r'(?m)(^|\s)#.*|--?[\w-]+', '', src)
        uses['/src/test/' in p].update(re.findall(r'\w+', src))
    code = {p: strip(open(p).read(), False) for p in srcs}
    defs = [(p, n, name, kind) for p in srcs for n, name, kind in members(code[p])]
    ndefs = collections.Counter(name for _, _, name, _ in defs)
    unused = 0
    for p, n, name, kind in defs:
        if uses[False][name] <= ndefs[name]:  # no word but the definitions themselves
            specs = uses[True][name] > 0
            entry = kind == 'object' and re.search(r'\bdef\s+main\s*\(', body(code[p], n))
            unused += not (specs or entry)
            print(f'{os.path.relpath(p, ROOT)}:{n}: {name}' + (' [specs only]' * specs))
    sys.exit(1 if unused else 0)

main()
