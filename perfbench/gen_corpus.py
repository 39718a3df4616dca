"""Seeded generator for a synthetic API-log corpus in the layout
`graft.io.ApiLogReader` reads (FIXTURES.md section 1):

    <out>/clean_LOGS_CONVERTED/LOG_API (NNN)converted.txt   720 files
    <out>/virus_LOGS_CONVERTED/LOG_API (NNN)converted.txt   884 files

Each line is `<ApiName> -`. 125 API names normalize to distinct tokens;
some are written with ` `, `+` or `-` inside the name, which the reader's
`[ +-]` normalization strips again. Many files open with a bare ` -` line.
API presence is Zipfian, class-skewed for a handful of names, and
QuerySystemInformation is present in every virus file.

Per-file line counts are a fixed, seed-independent list per class (min,
median and max as in FIXTURES.md) that the seed only permutes, and the
longest file of each class calls every API, so every seed yields a corpus
of exactly the same files, lines and distinct APIs (`expected_stats`).
The same seed gives a byte-identical corpus. `scale` shrinks the number
of files of each class and keeps the line-count min, median and max.

Usage: python3 gen_corpus.py <out_dir> <seed> [scale]
"""
import json
import os
import random
import statistics
import sys

N_FILES = {"clean": 720, "virus": 884}
# (min, median, max) lines per file, FIXTURES.md section 1
LINE_SPREAD = {"clean": (1, 43, 3889), "virus": (4, 77, 5089)}
ZIPF_S = 0.9
BARE_FIRST_LINE = 0.6

_STEMS = [
    "QuerySystemInformation", "QueryProcessInformation", "LoadLibrary",
    "FreeLibrary", "OpenProcessToken", "VirtualAllocEx", "CreateThread",
    "ResumeThread", "Sleep", "GetProcessDEPPolicy", "GetKeyboardState",
    "CreateFile", "ReadFile", "WriteFile", "CloseHandle", "RegOpenKey",
    "RegSetValue", "RegQueryValue", "RegCloseKey", "CreateProcess",
    "OpenProcess", "TerminateProcess", "WriteProcessMemory",
    "ReadProcessMemory", "GetProcAddress", "GetModuleHandle",
    "SetWindowsHookEx", "FindWindow", "ShellExecute", "InternetOpen",
    "InternetConnect", "HttpSendRequest", "Connect", "Send", "Recv",
    "Socket", "Bind", "Listen", "Accept", "GetTickCount",
    "QueryPerformanceCounter", "CreateMutex", "OpenMutex", "CreateEvent",
    "SetEvent", "WaitForSingleObject", "CreateService", "StartService",
    "OpenSCManager", "DeleteFile", "MoveFile", "CopyFile", "FindFirstFile",
    "FindNextFile", "GetTempPath", "GetSystemDirectory", "CryptAcquireContext",
    "CryptEncrypt", "CryptDecrypt", "IsDebuggerPresent", "OutputDebugString",
    "VirtualProtect", "NtQueryInformationProcess", "AdjustTokenPrivileges",
    "LookupPrivilegeValue", "GetUserName", "GetComputerName",
    "GetVersionEx", "GlobalAlloc", "HeapAlloc", "HeapFree", "MapViewOfFile",
    "UnmapViewOfFile", "CreateFileMapping", "DeviceIoControl",
    "SetFilePointer", "GetFileSize", "CreateRemoteThread", "QueueUserAPC",
    "SuspendThread", "GetThreadContext", "SetThreadContext",
    "EnumProcesses", "Process32First", "Process32Next",
    "CreateToolhelp32Snapshot", "GetAsyncKeyState", "GetForegroundWindow",
    "SendMessage", "PostMessage", "GetClipboardData", "OpenClipboard",
    "URLDownloadToFile", "WinExec", "GetStartupInfo", "ExitProcess",
    "GetCommandLine", "SetErrorMode", "GetLastError", "LocalAlloc",
    "LocalFree", "GetEnvironmentVariable", "SetFileAttributes",
    "GetFileAttributes", "NtCreateFile", "NtOpenKey", "NtSetValueKey",
    "LdrLoadDll", "NtAllocateVirtualMemory", "NtProtectVirtualMemory",
    "NtWriteVirtualMemory", "NtResumeThread", "NtDelayExecution",
    "DnsQuery", "GetAddrInfo", "GetAdaptersInfo", "WSAStartup",
    "CoCreateInstance", "OleInitialize", "SHGetFolderPath",
    "GetWindowText", "EnumWindows", "DrawText", "BitBlt", "GetDC",
]
assert len(_STEMS) == 125 and len(set(_STEMS)) == 125
# names written with characters the reader's normalization strips
_DECORATED = {
    "RegOpenKey": "Reg Open Key", "GetProcAddress": "Get-ProcAddress",
    "HttpSendRequest": "Http+SendRequest", "NtCreateFile": "Nt-Create+File",
    "CryptEncrypt": "Crypt Encrypt", "WSAStartup": "WSA-Startup",
    "Process32Next": "Process32+Next", "SetWindowsHookEx": "Set Windows-HookEx",
}
# names whose presence leans toward one class (the features the
# information-gain ranking should find)
_VIRUS_LEAN = {"GetProcessDEPPolicy": 3.0, "ResumeThread": 2.0,
               "WriteProcessMemory": 2.5, "CreateRemoteThread": 2.5,
               "SetWindowsHookEx": 2.0, "GetAsyncKeyState": 2.0,
               "IsDebuggerPresent": 1.8, "URLDownloadToFile": 2.2}
_CLEAN_LEAN = {"GetKeyboardState": 2.0, "DrawText": 2.0, "BitBlt": 1.8,
               "GetWindowText": 1.5, "OleInitialize": 1.5}


def normalize(name):
    """The reader's token normalization: strip every ` `, `+` and `-`."""
    return "".join(c for c in name if c not in " +-")


def n_files(cls, scale=1.0):
    return round(N_FILES[cls] * scale)


def line_counts(cls, scale=1.0):
    """Seed-independent per-file line counts of one class: a log-normal
    shape pinned to the class's exact min, median and max."""
    lo, med, hi = LINE_SPREAD[cls]
    n = n_files(cls, scale)
    nd = statistics.NormalDist()
    z = [nd.inv_cdf((i + 0.5) / n) for i in range(n)]
    zmin, zmax = z[0], z[-1]
    out = []
    for zi in z:
        if zi >= 0:
            v = med * (hi / med) ** (zi / zmax)
        else:
            v = med * (lo / med) ** (zi / zmin)
        out.append(int(round(v)))
    out[0], out[-1] = lo, hi
    out[n // 2] = out[(n - 1) // 2] = med
    return out


def presence_prob(rank, name, cls):
    p = min(1.0, 1.6 / (rank + 1) ** ZIPF_S)
    lean = (_VIRUS_LEAN if cls == "virus" else _CLEAN_LEAN).get(name)
    if lean:
        p = min(0.95, p * lean + 0.25)
    other = (_CLEAN_LEAN if cls == "virus" else _VIRUS_LEAN).get(name)
    if other:
        p = p * 0.3
    return max(p, 0.02)


def file_lines(rng, cls, n_lines, every_api=False):
    """The lines of one file: a bare ` -` first line for most files, then
    calls drawn from the file's Zipfian present-API set (every API when
    `every_api`)."""
    lines = []
    if rng.random() < BARE_FIRST_LINE:
        lines.append(" -")
    present = [s for r, s in enumerate(_STEMS)
               if every_api or rng.random() < presence_prob(r, s, cls)]
    if cls == "virus" and "QuerySystemInformation" not in present:
        present.insert(0, "QuerySystemInformation")
    if not present:
        present = [_STEMS[0]]
    body = n_lines - len(lines)
    for i in range(body):
        name = present[i] if i < len(present) else rng.choice(present)
        lines.append(_DECORATED.get(name, name) + " -")
    return lines[:n_lines]


def expected_stats(scale=1.0):
    """The stats `generate` returns for every seed at this scale."""
    return {"files": sum(n_files(c, scale) for c in N_FILES),
            "lines": sum(sum(line_counts(c, scale)) for c in N_FILES),
            "distinct_apis": len(_STEMS)}


def generate(out_dir, seed, scale=1.0):
    """Writes the corpus and returns its stats: files, lines and distinct
    normalized API names."""
    rng = random.Random(seed)
    files = lines = 0
    apis = set()
    for cls in ("clean", "virus"):
        d = os.path.join(out_dir, f"{cls}_LOGS_CONVERTED")
        os.makedirs(d, exist_ok=True)
        counts = line_counts(cls, scale)
        longest = max(counts)
        rng.shuffle(counts)
        for i, n in enumerate(counts, start=1):
            ls = file_lines(rng, cls, n, every_api=n == longest)
            with open(os.path.join(d, f"LOG_API ({i})converted.txt"), "w",
                      newline="\n") as f:
                f.write("\n".join(ls) + "\n")
            files += 1
            lines += len(ls)
            apis.update(t for t in map(normalize, ls) if t)
    return {"files": files, "lines": lines, "distinct_apis": len(apis)}


if __name__ == "__main__":
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), scale)))
