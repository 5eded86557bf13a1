#!/usr/bin/env python3
"""Non-comment line counts of src/main, and the public definitions nothing names.

python3 tools/ncloc.py                 per-file counts of src/main, then the total
python3 tools/ncloc.py --unreferenced  public def/val/object members of src/main whose
    name no other word in src/, perfbench/src or tools/ matches (comments and shell
    flags stripped, strings kept); [specs only] marks names only src/test uses
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
    """(line, name) of public defs whose every enclosing brace is an object/class/trait body."""
    stack, stmt, parens = [], '', 0
    for n, line in enumerate(code.split('\n'), 1):
        m = DEF.match(line)
        if m and all(stack) and not re.search(r'private|protected|override', m.group(1) or ''):
            yield n, m.group(2)
        stmt = stmt if parens or re.match(r'\s*(extends|with)\b', line) else ''
        for c in line + '\n':
            parens += (c == '(') - (c == ')')
            if c == '{': stack.append(bool(TEMPLATE.match(stmt))); stmt = ''
            elif c == '}': stack = stack[:-1]; stmt = ''
            else: stmt = '' if c == ';' else stmt + c

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
    defs = [(p, n, name) for p in srcs for n, name in members(strip(open(p).read(), False))]
    ndefs = collections.Counter(name for _, _, name in defs)
    for p, n, name in defs:
        if uses[False][name] <= ndefs[name]:  # no word but the definitions themselves
            print(f'{os.path.relpath(p, ROOT)}:{n}: {name}' + (' [specs only]' * (uses[True][name] > 0)))

main()
